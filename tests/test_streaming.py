"""Structured Streaming ingest: exactly-once mention sink equals the batch
mention set; windowed watermark aggregate sanity."""

from uckg_spark.fixtures import dicts as D
from uckg_spark.operators.mentions import scan_pages
from uckg_spark.sources.pages import pages_df, write_pages
from uckg_spark.streaming.pages_stream import run_stream_once


def test_stream_equals_batch(spark, fixture_pages, tmp_path):
    in_path = str(tmp_path / "pages_in")
    out_path = str(tmp_path / "mentions_out")
    ckpt = str(tmp_path / "ckpt")
    pdf = pages_df(spark, fixture_pages)
    write_pages(pdf, in_path)

    alias_rows = D.alias_table()
    run_stream_once(spark, in_path, out_path, ckpt, alias_rows)
    stream_rows = {
        tuple(r) for r in spark.read.parquet(out_path)
        .select("url", "kind", "token", "canonical_id").collect()
    }
    batch_rows = {
        tuple(r) for r in scan_pages(spark, pdf, alias_rows)
        .select("url", "kind", "token", "canonical_id").collect()
    }
    assert stream_rows == batch_rows

    # re-running with the same checkpoint ingests nothing new (exactly-once)
    run_stream_once(spark, in_path, out_path, ckpt, alias_rows)
    again = {
        tuple(r) for r in spark.read.parquet(out_path)
        .select("url", "kind", "token", "canonical_id").collect()
    }
    assert again == stream_rows


def test_stateful_first_seen_across_batches(spark, fixture_pages, tmp_path):
    """applyInPandasWithState: each url emitted exactly once even when the
    input spans several micro-batches AND a later run re-delivers the same
    urls (state survives in the checkpoint)."""
    from uckg_spark.streaming.pages_stream import run_first_seen_once

    in_path = str(tmp_path / "fs_in")
    out_path = str(tmp_path / "fs_out")
    ckpt = str(tmp_path / "fs_ckpt")
    pdf = pages_df(spark, fixture_pages)
    # many small files → availableNow with maxFilesPerTrigger=2 runs
    # multiple micro-batches
    pdf.repartition(8).write.mode("overwrite").parquet(in_path)

    run_first_seen_once(spark, in_path, out_path, ckpt, max_files=2)
    out = spark.read.parquet(out_path).collect()
    urls = [r["url"] for r in out]
    distinct_in = {p["url"] for p in fixture_pages}
    assert sorted(urls) == sorted(set(urls))  # exactly once per url
    assert set(urls) == distinct_in

    # re-deliver the same pages as NEW files: state must suppress them all
    pdf.repartition(3).write.mode("append").parquet(in_path)
    run_first_seen_once(spark, in_path, out_path, ckpt, max_files=2)
    out2 = spark.read.parquet(out_path).collect()
    assert sorted(r["url"] for r in out2) == sorted(urls)


def test_windowed_mention_rate(spark, fixture_pages, tmp_path):
    from uckg_spark.streaming.pages_stream import mention_rate

    pdf = pages_df(spark, fixture_pages)
    # the aggregate is a plain query on the batch side too (same plan)
    out = mention_rate(pdf).collect()
    assert sum(r["n_pages"] for r in out) == len(fixture_pages)


def test_first_seen_keys_multi_batch(spark, tmp_path):
    """Key-only stateful dedup: emitted SET equals SELECT DISTINCT key no
    matter how the input slices into micro-batches (the property that makes
    the driver query exactly oracle-checkable)."""
    from pyspark.sql import functions as F

    from uckg_spark.streaming.pages_stream import streaming_first_seen_keys

    in_path = str(tmp_path / "ev_in")
    out_path = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")
    ev = spark.range(600).select(
        F.col("id").alias("event_id"), (F.col("id") % 37).alias("user_id"))
    ev.repartition(6).write.mode("overwrite").parquet(in_path)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(in_path)
    )
    q = (
        streaming_first_seen_keys(stream, "user_id", "bigint")
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["user_id"] for r in spark.read.parquet(out_path).collect())
    assert got == list(range(37))  # exactly once per key, all keys


def test_session_windows_merge_across_batches(spark, tmp_path):
    """session_window state-store merging: a session whose events are
    split across micro-batches (one file each, maxFilesPerTrigger=1)
    merges into ONE emitted session, and the append-mode watermark only
    releases sessions whose end has passed it."""
    import datetime

    from uckg_spark.streaming.pages_stream import streaming_sessions

    def ts(h, m=0):
        return datetime.datetime(2024, 1, 1, h, m)

    # user 1: events at 01:00 and 01:30 land in DIFFERENT files but sit
    # 30 min apart (< 1 h gap) → one session of 3 events with 02:00.
    # user 2: one early event → its own session. A far-future flush
    # event (user 9) drives the watermark past every real session end.
    batch1 = [(1, ts(1, 0)), (2, ts(0, 0)), (9, ts(23, 0))]
    batch2 = [(1, ts(1, 30)), (1, ts(2, 0))]
    in_path = tmp_path / "sess_in"
    in_path.mkdir()
    schema = "user_id long, ts timestamp"
    for i, rows in enumerate([batch1, batch2]):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(in_path / f"b{i}"))
        # FileStreamSource ingests files in discovery order; separate
        # subdirs keep each batch's file distinct
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_path) + "/*")
    )
    out, ckpt = str(tmp_path / "sess_out"), str(tmp_path / "sess_ckpt")
    q = (
        streaming_sessions(stream, "user_id", "ts", gap="1 hour",
                           delay="2 hours")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["key"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    # watermark ends at 23:00 - 2h = 21:00: both real sessions emitted
    # (ends 03:00 and 01:00), the flush session (end 24:00) held back
    assert got == {
        (1, ts(1, 0), ts(3, 0), 3),
        (2, ts(0, 0), ts(1, 0), 1),
    }


def test_interval_join_pairs_across_batches(spark, tmp_path):
    """Stream-stream join state: a left event in micro-batch 1 joins a
    right event arriving in micro-batch 2; beyond-horizon and wrong-key
    pairs never emit."""
    import datetime

    from uckg_spark.streaming.pages_stream import stream_interval_join

    def ts(h, m=0):
        return datetime.datetime(2024, 1, 1, h, m)

    schema = "user_id long, ts timestamp"
    lpath, rpath = tmp_path / "ij_l", tmp_path / "ij_r"
    # left arrives entirely in batch 1
    spark.createDataFrame(
        [(1, ts(1)), (2, ts(1))], schema
    ).coalesce(1).write.parquet(str(lpath / "b0"))
    # right arrives in TWO files: in-horizon match for user 1 (batch 1),
    # then a late in-horizon match AND a beyond-horizon event (batch 2)
    spark.createDataFrame(
        [(1, ts(1, 30))], schema).coalesce(1).write.parquet(str(rpath / "b0"))
    spark.createDataFrame(
        [(1, ts(2, 30)), (2, ts(23, 30)), (3, ts(1, 10))], schema
    ).coalesce(1).write.parquet(str(rpath / "b1"))

    def read(p):
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1").parquet(str(p) + "/*"))

    out, ckpt = str(tmp_path / "ij_out"), str(tmp_path / "ij_ckpt")
    q = (
        stream_interval_join(read(lpath), read(rpath), "user_id", "ts",
                             horizon="2 hours")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["key"], r["l_ts"], r["r_ts"])
           for r in spark.read.parquet(out).collect()}
    # user 1: both purchases inside [01:00, 03:00]; user 2's event at
    # 23:30 is beyond the 2 h horizon; user 3 has no left row
    assert got == {(1, ts(1), ts(1, 30)), (1, ts(1), ts(2, 30))}


def test_update_mode_counts_converge_to_batch(spark, tmp_path):
    """outputMode('update') emits re-aggregated rows for keys touched in
    each micro-batch; the LAST emission per key equals the batch
    aggregate. (Append-mode aggregation is covered by the watermark
    rows; this pins the update-mode contract on the memory sink.)"""
    schema = "k string, v long"
    in_path = tmp_path / "upd_in"
    in_path.mkdir()
    batches = [[("a", 1), ("b", 2)], [("a", 10), ("c", 3)]]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(in_path / f"b{i}"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(str(in_path) + "/*"))
    from pyspark.sql import functions as F

    agg = stream.groupBy("k").agg(F.sum("v").alias("total"))
    q = (agg.writeStream.format("memory").queryName("upd_counts")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    emitted = sorted(
        (r["k"], r["total"])
        for r in spark.sql("SELECT * FROM upd_counts").collect()
    )
    # batch 1 emits a=1, b=2; batch 2 re-emits a=11 (state carried) and
    # c=3, and does NOT re-emit untouched b — the full multiset is
    # deterministic, and the per-key maxima equal the batch aggregate
    assert emitted == [("a", 1), ("a", 11), ("b", 2), ("c", 3)]


def test_incremental_counts_exactly_once(spark, tmp_path):
    """Aggregate materialized-view maintenance: counts converge to the
    batch aggregate across micro-batches AND waves; a replayed batch id
    (the crash-between-commit-and-checkpoint case) merges nothing."""
    from uckg_spark.sources.catalog import GraphCatalog
    from uckg_spark.streaming.pages_stream import (counts_sink,
                                                   run_incremental_counts)

    schema = "k string, v long"
    in_path = tmp_path / "ic_in"
    in_path.mkdir()
    wave1 = [[("a", 1), ("b", 1)], [("a", 1), ("c", 1)]]
    for i, rows in enumerate(wave1):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(in_path / f"w1b{i}"))

    def read():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(str(in_path) + "/*"))

    root, ckpt = str(tmp_path / "ic_cat"), str(tmp_path / "ic_ckpt")
    run_incremental_counts(spark, read(), "k", root, ckpt)
    cat = GraphCatalog(root)

    def counts():
        return {r["k"]: r["n"]
                for r in cat.read_table(spark, "counts").collect()}

    assert counts() == {"a": 2, "b": 1, "c": 1}

    # forced replay: re-invoke the sink with the head's own batch id —
    # the exactly-once marker must swallow it
    head = cat.latest_snapshot("counts")
    replay_id = head["props"]["last_batch_id"]
    counts_sink(spark, cat, "k")(
        spark.createDataFrame(wave1[-1], schema), replay_id)
    assert counts() == {"a": 2, "b": 1, "c": 1}
    assert cat.latest_snapshot("counts")["snapshot_id"] == \
        head["snapshot_id"]  # no new snapshot committed

    # second wave through the SAME checkpoint: only new files ingest
    spark.createDataFrame(
        [("a", 1), ("d", 1)], schema).coalesce(1).write.parquet(
        str(in_path / "w2b0"))
    run_incremental_counts(spark, read(), "k", root, ckpt)
    assert counts() == {"a": 3, "b": 1, "c": 1, "d": 1}
