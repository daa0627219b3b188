"""Iceberg-style snapshot semantics of GraphCatalog: immutable snapshot
dirs, atomic head commit, time travel, append vs overwrite, optimistic
concurrency, snapshot expiry, orphan invisibility.

Reference analog: the pipeline's durable state lives behind snapshot
pointers the way the reference's SQLite/Neo4j stores sit behind
transactional commits (/root/reference/data_collection/cve_collection.py:
332-335); here the contract is realized on plain parquet."""

import os

import pytest
from pyspark.sql import functions as F

from uckg_spark.sources.catalog import CommitConflictError, GraphCatalog


def _edges(spark, n, tag):
    return spark.range(n).select(
        F.concat(F.lit(f"{tag}-s"), F.col("id")).alias("subj"),
        F.lit("ucohasCVE_ID").alias("pred"),
        F.concat(F.lit("o"), F.col("id")).alias("obj"),
    )


def test_time_travel_and_overwrite(spark, tmp_path):
    cat = GraphCatalog(str(tmp_path / "g"))
    s1 = cat.write_edges(_edges(spark, 5, "v1"))
    s2 = cat.write_edges(_edges(spark, 8, "v2"))
    assert cat.latest_snapshot("edges")["snapshot_id"] == s2
    assert cat.read_edges(spark).count() == 8
    # time travel to the superseded snapshot still sees the old rows
    old = cat.read_edges(spark, snapshot_id=s1)
    assert old.count() == 5
    assert {r["subj"] for r in old.collect()} == {f"v1-s{i}" for i in range(5)}
    # snapshot log keeps both, head names the parent chain
    assert [r["snapshot_id"] for r in cat.snapshots("edges")] == [s1, s2]
    assert cat.snapshot("edges", s2)["parent_id"] == s1


def test_append_snapshot_unions_parent(spark, tmp_path):
    cat = GraphCatalog(str(tmp_path / "g"))
    cat.write_edges(_edges(spark, 4, "a"))
    s2 = cat.write_edges(_edges(spark, 3, "b"), mode="append")
    assert cat.latest_snapshot("edges")["rows"] == 7
    got = cat.read_edges(spark)
    assert got.count() == 7
    # partition pruning still works across multiple snapshot dirs
    assert cat.read_edges(spark, pred="ucohasCVE_ID").count() == 7
    assert cat.snapshot("edges", s2)["rows_written"] == 3


def test_empty_append_commits_without_data_dir(spark, tmp_path):
    """An EMPTY append still commits a snapshot (exactly-once
    foreachBatch rides its batch id in props even for empty
    micro-batches) but adds NO data dir to the manifest: a 0-row
    partitioned write leaves a dir with no partition subdirectories,
    which would poison every later per-dir read."""
    cat = GraphCatalog(str(tmp_path / "g"))
    s1 = cat.write_edges(_edges(spark, 4, "a"))
    s2 = cat.write_edges(_edges(spark, 4, "b").filter(F.lit(False)),
                         mode="append")
    assert s2 != s1  # the commit happened
    snap = cat.latest_snapshot("edges")
    assert snap["snapshot_id"] == s2
    assert snap["rows_written"] == 0
    assert snap["dirs"] == cat.snapshot("edges", s1)["dirs"]
    # reads across the chain still work, before and after a real append
    assert cat.read_edges(spark).count() == 4
    cat.write_edges(_edges(spark, 3, "c"), mode="append")
    assert cat.read_edges(spark).count() == 7


def test_orphan_dir_invisible_and_expired(spark, tmp_path):
    """A writer that dies after writing data but before commit leaves an
    orphan dir no reader sees; expire_snapshots removes it — but only
    once it outlives the orphan grace period, because a never-committed
    dir is indistinguishable from an in-flight writer's pre-commit dir
    (delete_rows/_merge_mor write data BEFORE the commit CAS)."""
    cat = GraphCatalog(str(tmp_path / "g"))
    s1 = cat.write_edges(_edges(spark, 5, "v1"))
    # simulate a crashed writer: data on disk, never committed
    orphan = tmp_path / "g" / "edges" / "snap-deadbeefcafe"
    _edges(spark, 99, "crash").write.parquet(str(orphan))
    assert cat.read_edges(spark).count() == 5  # head unaffected
    assert cat.latest_snapshot("edges")["snapshot_id"] == s1
    # default grace: the fresh dir could be an in-flight writer — kept
    assert cat.expire_snapshots("edges", keep_last=1) == []
    assert orphan.is_dir()
    # past the grace window it is a true orphan and goes
    removed = cat.expire_snapshots("edges", keep_last=1,
                                   orphan_grace_sec=0)
    assert os.path.join("edges", "snap-deadbeefcafe") in removed
    assert cat.read_edges(spark).count() == 5  # head survives expiry


def test_expire_keeps_head_drops_old(spark, tmp_path):
    cat = GraphCatalog(str(tmp_path / "g"))
    s1 = cat.write_edges(_edges(spark, 5, "v1"))
    s2 = cat.write_edges(_edges(spark, 8, "v2"))
    removed = cat.expire_snapshots("edges", keep_last=1)
    assert removed == [os.path.join("edges", f"snap-{s1}")]
    assert cat.read_edges(spark).count() == 8
    with pytest.raises(FileNotFoundError):
        cat.read_edges(spark, snapshot_id=s1)
    # append-retained dirs are never expired while the head references them
    s3 = cat.write_edges(_edges(spark, 2, "v3"), mode="append")
    removed = cat.expire_snapshots("edges", keep_last=1)
    assert removed == []  # s2's dir is part of s3's file set
    assert cat.read_edges(spark, snapshot_id=s3).count() == 10


def test_commit_conflict_detected(spark, tmp_path):
    """Optimistic concurrency: a commit based on a stale parent must fail
    instead of clobbering the interleaved writer's snapshot."""
    cat = GraphCatalog(str(tmp_path / "g"))
    s1 = cat.write_edges(_edges(spark, 3, "v1"))
    with pytest.raises(CommitConflictError):
        cat._commit("edges", {
            "table": "edges", "snapshot_id": "stalecommit00",
            "parent_id": None, "rows": 0, "rows_written": 0,
            "dirs": [], "ts": 0.0, "mode": "overwrite",
        }, expected_parent=None)  # based on empty table, but head is s1
    assert cat.latest_snapshot("edges")["snapshot_id"] == s1


def _race_commits(args):
    """Worker for the lock-free CAS test: n client-level OCC commits
    (re-read head, commit, retry on conflict) against a shared catalog."""
    root, table, wid, n_commits = args
    cat = GraphCatalog(root)
    for i in range(n_commits):
        sid = f"w{wid}c{i}"
        while True:
            parent = cat._head().get(table)
            try:
                cat._commit(table, {
                    "table": table, "snapshot_id": sid, "parent_id": parent,
                    "rows": 0, "rows_written": 0, "dirs": [], "ts": 0.0,
                    "mode": "append",
                }, expected_parent=parent)
                break
            except CommitConflictError:
                continue  # another writer won — re-read the new head
    return wid


def test_concurrent_writers_without_locks(tmp_path):
    """The commit protocol must serialize RACING PROCESSES through the
    link-based CAS alone (no flock anywhere): every commit lands exactly
    once, the per-table parent chain is gapless, and cross-table commits
    interleave freely. This is the object-store honesty property — an
    advisory-lock protocol passes a threaded test but corrupts state on
    stores with no lock primitive."""
    import multiprocessing as mp

    root = str(tmp_path / "g")
    cat = GraphCatalog(root)
    jobs = [(root, "edges", w, 5) for w in range(4)]
    jobs += [(root, "nodes", w, 3) for w in (90, 91)]
    with mp.get_context("fork").Pool(len(jobs)) as pool:
        pool.map(_race_commits, jobs)

    edge_log = cat.snapshots("edges")
    node_log = cat.snapshots("nodes")
    assert sorted(r["snapshot_id"] for r in edge_log) == sorted(
        f"w{w}c{i}" for w in range(4) for i in range(5))
    assert len(node_log) == 6
    # gapless parent chain per table: commit i's parent is commit i-1
    for log in (edge_log, node_log):
        for prev, cur in zip(log, log[1:]):
            assert cur["parent_id"] == prev["snapshot_id"]
        assert log[0]["parent_id"] is None
    assert cat.latest_snapshot("edges")["snapshot_id"] == edge_log[-1]["snapshot_id"]
    assert cat.latest_snapshot("nodes")["snapshot_id"] == node_log[-1]["snapshot_id"]
    # one version file per successful commit — losers leave no trace
    assert len(cat._versions()) == 26


def test_read_before_any_commit_raises(spark, tmp_path):
    cat = GraphCatalog(str(tmp_path / "g"))
    with pytest.raises(FileNotFoundError):
        cat.read_edges(spark)


def test_nodes_snapshot_roundtrip(spark, tmp_path):
    cat = GraphCatalog(str(tmp_path / "g"))
    n1 = spark.range(4).select(F.concat(F.lit("u"), F.col("id")).alias("uri"))
    n2 = spark.range(6).select(F.concat(F.lit("w"), F.col("id")).alias("uri"))
    s1 = cat.write_nodes(n1)
    cat.write_nodes(n2)
    assert cat.read_nodes(spark).count() == 6
    assert cat.read_nodes(spark, snapshot_id=s1).count() == 4


def test_compaction_rewrites_head_to_one_dir(spark, tmp_path):
    cat = GraphCatalog(str(tmp_path / "g"))
    cat.write_edges(_edges(spark, 5, "a"))
    cat.write_edges(_edges(spark, 4, "b"), mode="append")
    s3 = cat.write_edges(_edges(spark, 3, "c"), mode="append")
    assert len(cat.latest_snapshot("edges")["dirs"]) == 3
    before = {tuple(r) for r in cat.read_edges(spark).collect()}

    s4 = cat.compact_edges(spark)
    head = cat.latest_snapshot("edges")
    assert head["snapshot_id"] == s4 and len(head["dirs"]) == 1
    assert head["rows"] == 12
    # same row set through the rewrite
    assert {tuple(r) for r in cat.read_edges(spark).collect()} == before
    # the pre-compaction snapshot stays time-travelable until expiry
    assert {tuple(r) for r in
            cat.read_edges(spark, snapshot_id=s3).collect()} == before
    # a second compaction is a no-op (already one dir)
    assert cat.compact_edges(spark) == s4
    # expiry then drops the small pre-compaction dirs; the head survives
    removed = cat.expire_snapshots("edges", keep_last=1)
    assert len(removed) == 3
    assert {tuple(r) for r in cat.read_edges(spark).collect()} == before
    with pytest.raises(FileNotFoundError):
        cat.read_edges(spark, snapshot_id=s3)


def test_tags_pin_snapshots_through_expiry(spark, tmp_path):
    """Iceberg-tag semantics: a named ref protects its snapshot's data
    dirs from expire_snapshots; dropping the tag releases them."""
    cat = GraphCatalog(str(tmp_path / "g"))
    s1 = cat.write_edges(_edges(spark, 4, "v1"))
    assert cat.tag("edges", "train-v1") == s1
    s2 = cat.write_edges(_edges(spark, 6, "v2"))
    assert cat.tags("edges") == {"train-v1": s1}
    # expiry keeps the tagged snapshot even though only the head would
    # otherwise survive keep_last=1
    assert cat.expire_snapshots("edges", keep_last=1) == []
    got = cat.read_edges(
        spark, snapshot_id=cat.resolve_tag("edges", "train-v1"))
    assert got.count() == 4
    # re-tag moves the name; the old pin is released and expires
    assert cat.tag("edges", "train-v1") == s2
    removed = cat.expire_snapshots("edges", keep_last=1)
    assert len(removed) == 1
    with pytest.raises(FileNotFoundError):
        cat.read_edges(spark, snapshot_id=s1)
    # drop: name stops resolving, pin released
    cat.drop_tag("edges", "train-v1")
    assert cat.tags("edges") == {}
    with pytest.raises(KeyError):
        cat.resolve_tag("edges", "train-v1")
    with pytest.raises(KeyError):
        cat.drop_tag("edges", "train-v1")


def test_file_stats_prune_selective_scan(spark, tmp_path):
    """Iceberg manifest-pruning analog: commits record per-data-file
    column min/max from the parquet footers; a selective predicate
    resolves to FEWER files (counted via scan_files) and the pruned
    read still returns exactly the matching rows after the caller's
    row filter. Pruning must be conservative: it may skip work, never
    rows."""
    cat = GraphCatalog(str(tmp_path / "g"))
    # 4 tasks over a k-sorted frame ⇒ disjoint per-file k ranges
    df = spark.createDataFrame(
        [(i, f"v{i:04d}") for i in range(400)], "k long, v string"
    ).repartitionByRange(4, "k")

    def write(path):
        df.write.mode("overwrite").parquet(path)
        return 400

    cat._write_snapshot("t", write, "overwrite",
                        schema=[["k", "bigint"], ["v", "string"]])
    head = cat.latest_snapshot("t")
    rel = head["dirs"][0]
    stats = head["file_stats"][rel]
    assert len(stats) == 4  # one entry per part file
    assert all({"k", "v"} <= set(s) for s in stats.values())

    full = cat.scan_files("t")
    assert sum(len(v) for v in full.values()) == 1  # whole-dir sentinel
    pruned = cat.scan_files("t", prune={"k": (390, None)})
    assert sum(len(v) for v in pruned.values()) == 1  # 1 of 4 files
    got = (cat.read_table(spark, "t", prune={"k": (390, None)})
           .filter("k >= 390"))
    assert sorted(r["k"] for r in got.collect()) == list(range(390, 400))
    # string-stats pruning works the same way
    pv = cat.scan_files("t", prune={"v": ("v0000", "v0050")})
    assert sum(len(v) for v in pv.values()) == 1
    # a range spanning every file prunes nothing
    assert sum(len(v) for v in
               cat.scan_files("t", prune={"k": (0, 399)}).values()) == 4
    # all-pruned: typed empty frame, not an error
    empty = cat.read_table(spark, "t", prune={"k": (1000, None)})
    assert empty.count() == 0 and empty.columns == ["k", "v"]


def test_file_stats_prune_composes_with_append_and_mor(spark, tmp_path):
    """Stats accumulate across appends and survive metadata-carrying
    commits (MoR merge); reads under prune still see MoR semantics."""
    cat = GraphCatalog(str(tmp_path / "g"))
    lo = spark.createDataFrame(
        [(i, f"a{i}") for i in range(100)], "k long, v string")
    hi = spark.createDataFrame(
        [(i, f"b{i}") for i in range(1000, 1100)], "k long, v string")
    cat.write_table("t", lo, n_tasks=2)
    cat.write_table("t", hi, n_tasks=2, mode="append")
    # upsert one low key via MoR: its new data file has k=5 only
    cat.merge_table(spark, "t",
                    spark.createDataFrame([(5, "UPD")], "k long, v string"),
                    ["k"], strategy="mor")
    head = cat.latest_snapshot("t")
    assert len(head["file_stats"]) == 3  # both appends + the MoR dir
    # high-range prune: the low append's files AND the MoR update file
    # drop; only the hi dir's files survive
    files = cat.scan_files("t", prune={"k": (1000, None)})
    n_by_dir = {d: len(v) for d, v in files.items()}
    assert sum(n_by_dir.values()) == 2  # hi dir's 2 part files only
    got = (cat.read_table(spark, "t", prune={"k": (1000, None)})
           .filter("k >= 1000"))
    assert got.count() == 100
    # low-range prune still sees the MoR result (UPD wins over a5)
    low = {r["k"]: r["v"] for r in
           cat.read_table(spark, "t", prune={"k": (0, 10)})
           .filter("k <= 10").collect()}
    assert low[5] == "UPD" and low[4] == "a4"
