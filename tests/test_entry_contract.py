"""Mirror of the driver's DuckDB harness: every queries() entry must match
its oracle_sql() twin on row count, column names, and order-insensitive
value hash at sf0.001 (the driver runs sf0.01)."""

import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod  # noqa: E402
from tools.check_entry import TABLES, value_hash  # noqa: E402

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


QUERY_NAMES = sorted(entry_mod.queries().keys())


def test_every_query_has_oracle():
    missing = set(entry_mod.queries()) - set(entry_mod.oracle_sql())
    assert not missing, f"queries without oracle SQL: {missing}"


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    sdf = entry_mod.queries()[name](spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(entry_mod.oracle_sql()[name])
    dcols = [d[0] for d in cur.description]
    drows = [tuple(r) for r in cur.fetchall()]
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows)
    assert value_hash(srows, sdf.columns) == value_hash(drows, dcols)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["r_name", "l_returnflag", "revenue", "n_items"]


def test_table_schema_follows_a_rewrite(spark, tmp_path):
    """``_t`` caches a table's schema by path and mtime: a table rewritten
    with another schema under the same path is read with the new one."""
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,)], "a int").write.parquet(path)
    assert entry_mod._t(spark, str(tmp_path), "t").columns == ["a"]
    spark.createDataFrame([("x", 2)], "b string, c long") \
        .write.mode("overwrite").parquet(path)
    df = entry_mod._t(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 2)]
