"""Workload ``operator_queries``: one op is one pass, in fixed order, over
15 queries of ``__spark_entry__.queries()``, each collected to the driver.

The tables are the repository's sf0.01 test data, copied into
``perfbench/data/sf0.01`` (only the tables these queries read), with
``documents`` cut to its first 300 rows: the DuckDB twin of
``containment_pairs`` is quadratic in it. The seed does not affect them.
Each query's row count and order-insensitive value hash must equal its
DuckDB twin from ``__spark_entry__.oracle_sql()``. The twins' answers are
kept in ``.perfbench/cache`` under a digest of the SQL and the data, so
they are computed once per checkout and again whenever either changes.
"""

from __future__ import annotations

import hashlib
import json
import os

from tools.check_entry import value_hash

QUERIES = (
    "kg_pagerank", "kg_kcore", "kg_communities", "kg_hits", "kg_struct_pairs",
    "containment_pairs", "connected_components", "dedup_span_apply",
    "ngram_jaccard", "pair_audit", "label_spread", "heavy_hitters",
    "inner_fk_join", "explode_tokens", "broadcast_lookup_join",
)

TABLES = ("nation", "customer", "supplier", "part", "orders", "lineitem",
          "documents", "embeddings")

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                      "sf0.01")


def _oracle_key(sql: dict[str, str]) -> str:
    h = hashlib.sha256()
    for name in QUERIES:
        h.update(name.encode() + b"\0" + sql[name].encode() + b"\0")
    for t in TABLES:
        with open(os.path.join(SF_DIR, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def oracle_answers(cache_dir: str, tmp_dir: str) -> dict[str, list]:
    """[sorted column names, row count, value hash] per query from DuckDB,
    read from ``cache_dir`` when the same SQL already ran on the same
    data."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    path = os.path.join(cache_dir, f"queries-{_oracle_key(sql)}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        # spills would otherwise land in ./.tmp of the working directory
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(SF_DIR, t)}.parquet'")
        out = {}
        for name in QUERIES:
            cur = con.execute(sql[name])
            cols = [d[0] for d in cur.description]
            rows = [tuple(r) for r in cur.fetchall()]
            out[name] = [sorted(cols), len(rows), value_hash(rows, cols)]
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def pass_op(spark, tracer) -> dict[str, tuple]:
    """One timed pass. Each query's result is collected as its sink, so the
    check needs no second execution; returns (columns, rows) per query."""
    import __spark_entry__ as entry

    qs = entry.queries()
    results = {}
    for name in QUERIES:
        with tracer.span(f"query.{name}.call"):
            df = qs[name](spark, SF_DIR)
        with tracer.span(f"query.{name}.sink"):
            results[name] = (df.columns, df.collect())
    return results


def answers(results: dict[str, tuple]) -> dict[str, list]:
    """[sorted column names, row count, value hash] per query."""
    return {name: [sorted(cols), len(rows),
                   value_hash([tuple(r) for r in rows], cols)]
            for name, (cols, rows) in results.items()}


class Workload:
    """Hooks that ``run.Run`` calls; see ``run.py``."""

    kg = False

    def __init__(self, run):
        self.run = run

    def prepare_local(self) -> None:
        with self.run.tracer.span("prep.oracle"):
            self.expected = oracle_answers(
                os.path.join(self.run.root, ".perfbench", "cache"),
                os.path.join(self.run.work, "duckdb.tmp"))

    def prepare_spark(self, spark) -> None:
        pass

    def op(self, spark, k: int):
        return pass_op(spark, self.run.tracer)

    def check(self, spark, records: list) -> dict[int, list[str]]:
        bad = {}
        for k, record in enumerate(records):
            if record is not None:
                got = answers(record)
                bad[k] = [q for q in got if got[q] != self.expected[q]]
        return bad
