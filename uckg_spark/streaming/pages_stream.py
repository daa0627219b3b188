"""Structured Streaming variant of the ingest path.

The reference is batch-with-checkpoints (SURVEY.md §2.10 — no watermarks or
event-time windows exist there), so streaming is an OPTIONAL ingest mode:
the same fused extract+mention kernel (``operators.mentions.scan_pages``)
runs as a file-source stream with checkpointed exactly-once sinks —
mapInPandas works unchanged under readStream.

A windowed mention-rate aggregate (warc_ts event time + watermark) is
included as the monitoring surface (the reference's Prometheus counter
analog, /root/reference/network.py:15-18).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.mentions import scan_pages
from ..sources.pages import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def streaming_mentions(
    spark: SparkSession, pages_stream: DataFrame, alias_rows: list[dict]
) -> DataFrame:
    """Stream of (url, kind, token, canonical_id) mention rows: the batch
    builds' fused ``scan_pages`` kernel, run on the stream."""
    return scan_pages(spark, pages_stream, alias_rows)


def mention_rate(pages_stream: DataFrame) -> DataFrame:
    """10-minute tumbling page counts by lang with a 30-minute watermark —
    late pages beyond the watermark are dropped deterministically."""
    return (
        pages_stream.withWatermark("warc_ts", "30 minutes")
        .groupBy(F.window("warc_ts", "10 minutes").alias("w"), "lang")
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "lang", "n_pages")
    )


def streaming_sessions(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    gap: str = "6 hours",
    delay: str = "12 hours",
) -> DataFrame:
    """Event-time session windows over a keyed stream: events of one key
    merge while consecutive gaps stay under ``gap``; a session is emitted
    (append mode) once the watermark — max event time minus ``delay`` —
    passes its end (last event + gap). This is the streaming twin of the
    batch ``sessionize`` operator: same gap-split semantics, but computed
    incrementally in the state store so a session that spans micro-batches
    merges instead of splitting at trigger boundaries.

    Built-in ``session_window`` (not applyInPandasWithState) on purpose:
    merging + watermark eviction live JVM-side in the session state store,
    and numElementsForExactSessionWindow-style spill handling comes free.
    Late events beyond ``delay`` are dropped deterministically.

    Returns ``(key, session_start, session_end, n_events)`` with raw
    timestamp bounds (callers format/cast as needed)."""
    return (
        stream.withWatermark(ts_col, delay)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"),
            F.col(key_col).alias("key"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "key",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    horizon: str = "24 hours",
) -> DataFrame:
    """Stream-stream INNER interval join: pair each left event with
    every right event of the same key whose timestamp falls in
    ``[left.ts, left.ts + horizon]`` — the attribution join (view →
    purchase within the window) and the KG-ingest correlation join
    (page fetch → parse event), expressed as Structured Streaming's
    join-state machinery rather than a batch re-join per trigger.

    Both sides carry watermarks of ``horizon``: with the time-range
    condition, Spark derives state-eviction bounds from them — a left
    row is dropped from join state once the right watermark passes
    ``left.ts + horizon``, so state is O(events inside the horizon),
    not O(stream). Inner joins emit on match (no watermark wait), so a
    bounded drain equals the batch join exactly — which is what makes
    this oracle-checkable.

    Returns ``(key, left ts as l_ts, right ts as r_ts)``.
    """
    l = left.select(
        F.col(key_col).alias("key"), F.col(ts_col).alias("l_ts")
    ).withWatermark("l_ts", horizon)
    r = right.select(
        F.col(key_col).alias("r_key"), F.col(ts_col).alias("r_ts")
    ).withWatermark("r_ts", horizon)
    return l.join(
        r,
        (F.col("key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select("key", "l_ts", "r_ts")


def streaming_first_seen(pages_stream: DataFrame) -> DataFrame:
    """Cross-micro-batch stateful URL dedup via ``applyInPandasWithState``:
    emit each url exactly ONCE (with its earliest warc_ts), no matter how
    many micro-batches or re-crawls deliver it. This is the streaming twin
    of the batch A1/I2 idempotency contract (content-hash skip,
    /root/reference/process/shared_functions.py:58-64) — and the one
    mention-pipeline op a per-trigger batch query cannot express, because
    the "seen" set must persist across triggers in the state store.

    State is one boolean per url group; keys partition across executors, so
    state size is |distinct urls| / parallelism per task — at 10^12 docs
    use RocksDB state store (config, not code) and drop state with a TTL
    timeout if the crawl horizon is bounded."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            return iter([])  # url already emitted in an earlier batch
        first_ts = None
        for pdf in pdfs:
            ts = pdf["warc_ts"].min()
            if first_ts is None or ts < first_ts:
                first_ts = ts
        state.update((True,))
        yield pd.DataFrame({"url": [key[0]], "first_ts": [first_ts]})

    return (
        pages_stream.select("url", "warc_ts")
        .groupBy("url")
        .applyInPandasWithState(
            fn,
            outputStructType="url string, first_ts timestamp",
            stateStructType="seen boolean",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_first_seen_keys(stream: DataFrame, key_col: str,
                              key_type: str = "string") -> DataFrame:
    """Key-only variant of ``streaming_first_seen``: emit each key exactly
    once across micro-batches (no timestamp payload, so the emitted SET is
    batch-slicing-independent — equal to ``SELECT DISTINCT key`` over the
    drained input, which makes it exactly oracle-checkable)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            return iter([])
        for _ in pdfs:  # drain the iterator (required by the contract)
            pass
        state.update((True,))
        yield pd.DataFrame({key_col: [key[0]]})

    return (
        stream.select(key_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=f"{key_col} {key_type}",
            stateStructType="seen boolean",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_first_seen_once(
    spark: SparkSession, in_path: str, out_path: str, checkpoint: str,
    max_files: int = 2,
) -> None:
    """Drain available input through the stateful first-seen operator into
    a parquet sink (availableNow + small maxFilesPerTrigger forces several
    micro-batches, so the test actually crosses trigger boundaries)."""
    stream = read_pages_stream(spark, in_path, max_files=max_files)
    q = (
        streaming_first_seen(stream)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_once(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    alias_rows: list[dict],
) -> None:
    """Drain all available input once (Trigger.AvailableNow) into a parquet
    mention sink with an exactly-once checkpoint — the batch pipeline's
    resume contract, expressed in streaming."""
    stream = read_pages_stream(spark, in_path)
    mentions = streaming_mentions(spark, stream, alias_rows)
    q = (
        mentions.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def counts_sink(spark, cat, key_col: str, table: str = "counts"):
    """The foreachBatch body for ``run_incremental_counts``, factored so
    tests can invoke it directly with a chosen batch_id (forcing the
    replay path a live stream only takes after a crash)."""
    from pyspark.sql import functions as F

    def sink(batch_df, batch_id: int) -> None:
        if _batch_already_applied(cat, table, batch_id):
            return  # replay of the already-committed batch: exactly-once
        head = cat.latest_snapshot(table)
        delta = batch_df.groupBy(key_col).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"))
        if head is not None:
            merged = (
                cat.read_table(spark, table)
                .unionByName(delta)
                .groupBy(key_col)
                .agg(F.sum("n").cast("bigint").alias("n"))
            )
        else:
            merged = delta
        cat.write_table(table, merged, mode="overwrite",
                        props={"last_batch_id": batch_id})

    return sink


def run_incremental_counts(
    spark: SparkSession,
    stream: DataFrame,
    key_col: str,
    catalog_root: str,
    checkpoint: str,
    table: str = "counts",
) -> None:
    """Exactly-once incremental AGGREGATE maintenance (a materialized
    count view). Set-delta maintenance is naturally idempotent (a
    replayed subtract computes an empty delta, as in
    ``dedup_ingest_sink``); aggregate maintenance is NOT (a replayed
    merge double-counts), so exactly-once needs a transactional marker:
    every snapshot commit records the producing ``batch_id`` in its
    props (Iceberg snapshot-summary style), and a replayed foreachBatch
    — which can only be the LAST uncommitted batch, checkpointed batch
    ids are monotone — sees its own id on the head and skips. Concurrent writers fail the
    catalog's OCC CAS instead of merging twice."""
    from ..sources.catalog import GraphCatalog

    q = (
        stream.writeStream.foreachBatch(
            counts_sink(spark, GraphCatalog(catalog_root), key_col, table))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _batch_already_applied(cat, table: str, batch_id: int) -> bool:
    """True iff some committed snapshot of ``table`` carries a
    ``last_batch_id`` marker >= ``batch_id``.

    Head-only inspection is NOT enough: any other commit landing between
    a batch's commit and its post-crash replay (a ``compact_table``
    maintenance pass, a manual merge) moves the head past the marker and
    a head-only check would re-apply the batch. Scanning newest→oldest
    and stopping at the first marker-bearing commit is correct because
    foreachBatch epoch ids are monotone per checkpoint — the newest
    marker is the largest ever applied — and cheap because snapshot rows
    are driver-side metadata (the scan usually stops within a few
    non-marker maintenance commits)."""
    for snap in reversed(cat.snapshots(table)):
        marker = (snap.get("props") or {}).get("last_batch_id")
        if marker is not None:
            return int(marker) >= int(batch_id)
    return False


def dedup_ingest_sink(spark, cat, num_hashes: int = 4, bands: int = 2,
                      n: int = 3, index_table: str = "lsh_index",
                      pairs_table: str = "dup_pairs"):
    """foreachBatch body for ``run_dedup_ingest`` (factored so tests can
    drive replays directly). Per document batch:

    1. candidate near-dup pairs of the batch against the CURRENT
       cataloged LSH index plus within-batch pairs
       (``operators.dedup.incremental_near_dup_pairs`` — existing
       corpus touched only through the index);
    2. append the NEW pairs to ``pairs_table`` as a set-delta
       (subtract-then-append: a replayed batch computes an empty delta,
       so the append is idempotent);
    3. extend the index with the batch's banded signatures, committed
       with the producing batch_id in the snapshot props — the
       transactional marker (``counts_sink`` argument) that makes the
       non-idempotent index append exactly-once.

    Step order is the crash-safety argument: a crash after (2) but
    before (3) replays the batch, the pair delta is empty (already
    appended), and the index commit — the only step with the marker —
    happens once. The final ``pairs_table`` equals the FULL-corpus
    ``minhash_lsh_pairs`` set regardless of how ingest batched the
    corpus: a pair (a, b) with a in batch i ≥ j ∋ b is found when
    batch i runs (b's signatures are already in the index), pinned by
    the any-batching pytest.
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import (
        banded_signatures,
        incremental_near_dup_pairs,
        minhash_signatures,
    )

    def sink(batch_df, batch_id: int) -> None:
        if _batch_already_applied(cat, index_table, batch_id):
            return  # full replay of a committed batch
        idx_head = cat.latest_snapshot(index_table)
        batch_df = batch_df.persist()
        try:
            if idx_head is None:
                pairs = incremental_near_dup_pairs(
                    batch_df,
                    base_docs=batch_df.limit(0),
                    num_hashes=num_hashes, bands=bands, n=n)
            else:
                pairs = incremental_near_dup_pairs(
                    batch_df,
                    base_banded=cat.read_table(
                        spark, index_table,
                        snapshot_id=idx_head["snapshot_id"]),
                    num_hashes=num_hashes, bands=bands, n=n)
            try:
                existing = cat.read_table(spark, pairs_table)
                delta = pairs.subtract(existing)
            except FileNotFoundError:
                delta = pairs
            delta = delta.persist()
            if delta.count() > 0:
                cat.write_table(pairs_table, delta, mode="append")
            delta.unpersist()
            cat.write_table(
                index_table,
                banded_signatures(
                    minhash_signatures(batch_df, num_hashes, n),
                    num_hashes, bands),
                mode="append",
                props={"last_batch_id": batch_id},
            )
        finally:
            batch_df.unpersist()

    return sink


def run_dedup_ingest(
    spark: SparkSession,
    stream: DataFrame,
    catalog_root: str,
    checkpoint: str,
    num_hashes: int = 4,
    bands: int = 2,
    n: int = 3,
) -> None:
    """Streaming dedup-on-ingest: maintain the LSH index AND the
    near-dup pair table incrementally as document batches arrive —
    the continuous form of the batch dedup family, with per-ingest cost
    |batch|·collision-rate instead of re-paying the corpus self-join
    every sync. Exactly-once via the set-delta + snapshot-marker pair
    (see ``dedup_ingest_sink``)."""
    from ..sources.catalog import GraphCatalog

    q = (
        stream.writeStream.foreachBatch(
            dedup_ingest_sink(spark, GraphCatalog(catalog_root),
                              num_hashes=num_hashes, bands=bands, n=n))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def pages_ingest_sink(spark, cat, pages_table: str = "pages"):
    """foreachBatch body for ``run_pages_ingest`` (factored so tests can
    drive replays directly): land one crawl micro-batch in the pages
    catalog as a url-keyed merge-on-read upsert — re-crawled urls
    supersede their old version (one delete-file + one data-dir commit,
    O(|batch|) written), new urls insert. Within-batch duplicate urls
    collapse latest-``warc_ts``-wins before the merge (MoR's
    duplicate-key contract). Exactly-once: the producing ``batch_id``
    rides the commit props; a replayed batch whose id any committed
    snapshot already marks is skipped (``_batch_already_applied`` — the
    marker scan survives interleaved maintenance commits like
    ``compact_table`` that a head-only check would not). The upsert
    commit is ATOMIC (data + delete file in one CAS), so a crash
    mid-batch leaves only expirable orphans and the replay lands the
    whole batch once.

    This is the front door of the incremental loop: crawl stream →
    pages catalog (this sink) → ``plans.incremental.sync_kg`` reads the
    pages changelog and maintains the KG."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def sink(batch_df, batch_id: int) -> None:
        if _batch_already_applied(cat, pages_table, batch_id):
            return  # replay of a committed batch — even if maintenance
            # commits (compact_table) moved the head past the marker
        head = cat.latest_snapshot(pages_table)
        w = Window.partitionBy("url").orderBy(
            F.col("warc_ts").desc_nulls_last())
        batch = (batch_df.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") == 1).drop("_rn"))
        props = {"last_batch_id": batch_id}
        if head is None:
            cat.write_table(pages_table, batch, props=props)
        else:
            cat.merge_table(spark, pages_table, batch, ["url"],
                            strategy="mor", props=props)

    return sink


def run_pages_ingest(
    spark: SparkSession,
    stream: DataFrame,
    pages_catalog_root: str,
    checkpoint: str,
    pages_table: str = "pages",
) -> None:
    """Streaming crawl ingest into the pages catalog: every micro-batch
    is an exactly-once url-keyed MoR upsert (``pages_ingest_sink``), so
    the catalog's changelog records per-crawl inserts and re-crawl
    retractions for ``sync_kg`` to consume."""
    from ..sources.catalog import GraphCatalog

    q = (
        stream.writeStream.foreachBatch(
            pages_ingest_sink(spark, GraphCatalog(pages_catalog_root),
                              pages_table=pages_table))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
