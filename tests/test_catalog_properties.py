"""Model-based hypothesis test for the catalog's MoR semantics: a
random sequence of overwrite / append / MoR-merge / delete / compact
commits must read back exactly like a pure-Python row-list model — at
the head AND at every historical snapshot (time travel). Few examples
(each op is Spark jobs); shrinking is the value."""

from datetime import datetime
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from uckg_spark.sources.catalog import GraphCatalog

SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)

# batches draw keys from 0-5 so collisions (the interesting case:
# re-upserts, delete-then-reinsert, merge-over-append) are common
batch = st.dictionaries(
    st.integers(min_value=0, max_value=5),
    st.sampled_from(["a", "b", "c"]),
    min_size=1, max_size=4,
)
op = st.one_of(
    st.tuples(st.just("overwrite"), batch),
    st.tuples(st.just("append"), batch),
    st.tuples(st.just("merge_mor"), batch),
    st.tuples(st.just("delete"), st.sets(
        st.integers(min_value=0, max_value=5), min_size=1, max_size=3)),
    st.tuples(st.just("compact"), st.none()),
)


def _df(spark, items):
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(items)], "k long, v string")


class TestCatalogModel:
    @SETTINGS
    @given(ops=st.lists(op, min_size=1, max_size=6))
    def test_random_commit_sequences_match_model(
            self, spark, tmp_path_factory, ops):
        cat = GraphCatalog(str(tmp_path_factory.mktemp("mor_prop")))
        sid = cat.write_table("t", _df(spark, [(0, "z")]))
        model: list[tuple[int, str]] = [(0, "z")]
        expected = {sid: sorted(model)}  # snapshot id -> model state

        for kind, arg in ops:
            if kind == "overwrite":
                sid = cat.write_table("t", _df(spark, arg.items()))
                model = list(arg.items())
            elif kind == "append":
                sid = cat.write_table("t", _df(spark, arg.items()),
                                      mode="append")
                model = model + list(arg.items())
            elif kind == "merge_mor":
                sid = cat.merge_table(spark, "t", _df(spark, arg.items()),
                                      ["k"], strategy="mor")
                model = ([r for r in model if r[0] not in arg]
                         + list(arg.items()))
            elif kind == "delete":
                sid = cat.delete_rows(
                    "t",
                    spark.createDataFrame([(k,) for k in sorted(arg)],
                                          "k long"),
                    ["k"])
                model = [r for r in model if r[0] not in arg]
            else:  # compact: fresh snapshot (or no-op), net unchanged
                sid = cat.compact_table(spark, "t")
            expected[sid] = sorted(model)

        # head reads as the final model state (duplicates preserved:
        # the catalog is a row store, not a keyed map)
        got = sorted(tuple(r) for r in
                     cat.read_table(spark, "t").collect())
        assert got == sorted(model)
        # time travel: EVERY snapshot reads as the model state at its
        # commit (nothing is expired in this test)
        for snap_id, want in expected.items():
            trav = sorted(tuple(r) for r in cat.read_table(
                spark, "t", snapshot_id=snap_id).collect())
            assert trav == want, (snap_id, ops)


@pytest.mark.parametrize("key_type, keys", [
    ("timestamp", [datetime(2024, 1, d, 12, 30, 0, 123456) for d in (1, 2, 3)]),
    ("timestamp_ntz", [datetime(2024, 1, d, 8) for d in (1, 2, 3)]),
    ("decimal(12,3)", [Decimal("1.250"), Decimal("-7.125"), Decimal("9.000")]),
    ("struct<a:int,b:string>", [(1, "x"), (1, "y"), (2, None)]),
    ("array<int>", [[1], [1, 2], []]),
])
def test_mor_merge_keeps_key_types_readable(spark, tmp_path, key_type, keys):
    """The driver-written delete file of a small MoR merge reads back
    through Spark for every key type: Spark's INT96 timestamps are not
    re-emitted as nanoseconds, and nested keys take the Spark path."""
    cat = GraphCatalog(str(tmp_path / "cat"))
    k1, k2, k3 = keys
    schema = f"k {key_type}, v string"
    cat.write_table("t", spark.createDataFrame([(k1, "a"), (k2, "b")], schema))
    cat.merge_table(spark, "t",
                    spark.createDataFrame([(k2, "c"), (k3, "d")], schema),
                    ["k"], strategy="mor")
    got = sorted(r.v for r in cat.read_table(spark, "t").collect())
    assert got == ["a", "c", "d"]
