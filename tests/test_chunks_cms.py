"""sliding_chunks (operators/corpus.py) and cms_heavy_hitters
(operators/sketches.py): hand-computed window lattices and
exactness-under-any-sketch-config guarantees."""

from collections import Counter

from pyspark.sql import functions as F

from uckg_spark.operators.corpus import sliding_chunks
from uckg_spark.operators.dedup import tokens
from uckg_spark.operators.sketches import cms_heavy_hitters


def _chunks(spark, text, chunk, stride):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = sliding_chunks(df, chunk_size=chunk, stride=stride)
    return sorted(
        (r["chunk_idx"], r["start"], r["n_tokens"], r["text_chunk"])
        for r in got.collect())


def test_window_lattice_hand_checked(spark):
    text = " ".join(f"t{i}" for i in range(10))
    assert _chunks(spark, text, chunk=4, stride=3) == [
        (0, 0, 4, "t0 t1 t2 t3"),
        (1, 3, 4, "t3 t4 t5 t6"),
        (2, 6, 4, "t6 t7 t8 t9"),
        (3, 9, 1, "t9"),          # tail never dropped
    ]


def test_short_doc_single_chunk(spark):
    assert _chunks(spark, "a b", chunk=8, stride=4) == [(0, 0, 2, "a b")]


def test_empty_doc_yields_nothing(spark):
    assert _chunks(spark, "   ", chunk=4, stride=2) == []


def test_adjacent_chunks_overlap_by_construction(spark):
    text = " ".join(f"t{i}" for i in range(20))
    rows = _chunks(spark, text, chunk=6, stride=4)
    for (_, s1, _, c1), (_, s2, _, c2) in zip(rows, rows[1:]):
        assert s2 - s1 == 4
        assert c1.split()[4:6] == c2.split()[0:2]  # 2-token overlap


def _zipf_rows():
    vals = []
    for i in range(40):
        vals += [f"w{i}"] * (200 // (i + 1))
    return [(v,) for v in vals]


def _exact(rows, t):
    c = Counter(v for v, in rows)
    return {(v, n) for v, n in c.items() if n >= t}


def test_cms_equals_plain_having_across_configs(spark):
    rows = _zipf_rows()
    df = spark.createDataFrame(rows, "value string").repartition(5)
    for width, depth in ((1024, 4), (64, 2), (2, 1)):
        got = {(r["value"], r["n"]) for r in cms_heavy_hitters(
            df, "value", threshold=50, width=width, depth=depth).collect()}
        # width=2 saturates the sketch (everything is a candidate) —
        # the exact verify must still produce the identical answer
        assert got == _exact(rows, 50), (width, depth)


def test_cms_threshold_one_returns_every_value(spark):
    rows = _zipf_rows()
    df = spark.createDataFrame(rows, "value string")
    got = {r["value"] for r in
           cms_heavy_hitters(df, "value", threshold=1).collect()}
    assert got == {v for v, in rows}


def test_cms_ignores_nulls(spark):
    df = spark.createDataFrame(
        [("a",), (None,), ("a",), (None,)], "value string")
    got = {(r["value"], r["n"]) for r in
           cms_heavy_hitters(df, "value", threshold=2).collect()}
    assert got == {("a", 2)}


def test_heavy_hitters_total_skips_null_text(spark):
    """``heavy_hitters``' threshold total, ``sum(size(tokens(text)))``:
    under the session's ANSI mode ``size(NULL)`` is NULL, not the legacy
    -1, so a null text adds nothing instead of shrinking the total."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    docs = spark.createDataFrame(
        [(1, "a b  c"), (2, None), (3, " d e "), (4, "")],
        "doc_id long, text string")
    total = docs.agg(F.sum(F.size(tokens(F.col("text"))))).collect()[0][0]
    assert total == 5
