"""Merge-on-read delete files (Iceberg v2 equality-delete analog):
merge_table(strategy="mor") and delete_rows commit keys-only delete
files instead of rewriting; readers apply them sequence-aware; the
compactors materialize the net state and free them. MoR must be
observationally identical to COW — same reads, same time travel —
while writing only O(|changes|) per merge."""

import pytest
from pyspark.sql import functions as F

from uckg_spark.sources.catalog import GraphCatalog


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _read(spark, cat, name, snapshot_id=None):
    return {tuple(r) for r in
            cat.read_table(spark, name, snapshot_id=snapshot_id).collect()}


def _edges(spark, n, tag):
    return spark.range(n).select(
        F.concat(F.lit(f"{tag}-s"), F.col("id")).alias("subj"),
        F.lit("ucohasCVE_ID").alias("pred"),
        F.concat(F.lit("o"), F.col("id")).alias("obj"),
    )


def test_mor_merge_matches_cow_and_writes_only_updates(spark, tmp_path):
    cow = GraphCatalog(str(tmp_path / "cow"))
    mor = GraphCatalog(str(tmp_path / "mor"))
    steps = [
        [(1, "a"), (2, "b"), (3, "c")],
        [(2, "B"), (4, "d")],
        [(2, "B2"), (1, "A")],  # re-upsert of already-upserted keys
    ]
    for rows in steps:
        cow.merge_table(spark, "t", _df(spark, rows), ["k"])
        mor.merge_table(spark, "t", _df(spark, rows), ["k"],
                        strategy="mor")
        assert _read(spark, mor, "t") == _read(spark, cow, "t")
    assert _read(spark, mor, "t") == {
        (1, "A"), (2, "B2"), (3, "c"), (4, "d")}
    head = mor.latest_snapshot("t")
    # MoR wrote only the update rows, never the table
    assert head["rows_written"] == 2
    assert len(head["dirs"]) == 3 and len(head["deletes"]) == 2
    # delete files are deduped key sets
    assert [d["rows"] for d in head["deletes"]] == [2, 2]


def test_mor_time_travel_sees_pre_merge_state(spark, tmp_path):
    cat = GraphCatalog(str(tmp_path / "g"))
    s1 = cat.merge_table(spark, "t", _df(spark, [(1, "a"), (2, "b")]), ["k"])
    s2 = cat.merge_table(spark, "t", _df(spark, [(2, "B")]), ["k"],
                         strategy="mor")
    assert _read(spark, cat, "t", snapshot_id=s1) == {(1, "a"), (2, "b")}
    assert _read(spark, cat, "t", snapshot_id=s2) == {(1, "a"), (2, "B")}


def test_delete_then_reinsert_survives(spark, tmp_path):
    """A delete kills only LOWER-sequence rows: re-inserting the key
    afterwards must be visible (the ordering MoR exists to get right)."""
    cat = GraphCatalog(str(tmp_path / "g"))
    cat.write_table("t", _df(spark, [(1, "a"), (2, "b")]))
    cat.delete_rows("t", _df(spark, [(1, "dead")]), ["k"])
    assert _read(spark, cat, "t") == {(2, "b")}
    cat.write_table("t", _df(spark, [(1, "back")]), mode="append")
    assert _read(spark, cat, "t") == {(1, "back"), (2, "b")}


def test_delete_rows_retracts_edges_across_dirs(spark, tmp_path):
    """Fact-table retraction: full-row equality deletes on the
    partitioned edges table reach rows in EVERY snapshot dir, and the
    pred partition filter still composes with the MoR anti-join."""
    cat = GraphCatalog(str(tmp_path / "g"))
    cat.write_edges(_edges(spark, 4, "a"))
    cat.write_edges(_edges(spark, 3, "b"), mode="append")
    dead = spark.createDataFrame(
        [("a-s1", "ucohasCVE_ID", "o1"), ("b-s2", "ucohasCVE_ID", "o2")],
        "subj string, pred string, obj string")
    cat.delete_rows("edges", dead, ["subj", "pred", "obj"])
    got = {r["subj"] for r in cat.read_edges(spark).collect()}
    assert got == {"a-s0", "a-s2", "a-s3", "b-s0", "b-s1"}
    assert cat.read_edges(spark, pred="ucohasCVE_ID").count() == 5
    assert cat.read_edges(spark, pred="other").count() == 0


def test_compact_materializes_and_expire_frees_delete_files(
        spark, tmp_path):
    cat = GraphCatalog(str(tmp_path / "g"))
    cat.write_edges(_edges(spark, 5, "a"))
    dead = _edges(spark, 2, "a")  # a-s0, a-s1
    cat.delete_rows("edges", dead, ["subj", "pred", "obj"])
    s3 = cat.compact_edges(spark)
    head = cat.latest_snapshot("edges")
    assert head["snapshot_id"] == s3
    assert len(head["dirs"]) == 1 and head["deletes"] == []
    assert head["rows"] == 3  # net count after materializing deletes
    assert cat.read_edges(spark).count() == 3
    # compacting an already-net head is a no-op
    assert cat.compact_edges(spark) == s3
    removed = cat.expire_snapshots("edges", keep_last=1)
    assert any(r.startswith("edges/del-") for r in removed)
    assert cat.read_edges(spark).count() == 3


def test_compact_table_generic(spark, tmp_path):
    cat = GraphCatalog(str(tmp_path / "g"))
    cat.merge_table(spark, "t", _df(spark, [(1, "a"), (2, "b")]), ["k"])
    cat.merge_table(spark, "t", _df(spark, [(2, "B"), (3, "c")]), ["k"],
                    strategy="mor")
    s = cat.compact_table(spark, "t", n_tasks=2)
    head = cat.latest_snapshot("t")
    assert head["snapshot_id"] == s
    assert len(head["dirs"]) == 1 and head["deletes"] == []
    assert _read(spark, cat, "t") == {(1, "a"), (2, "B"), (3, "c")}
    assert cat.compact_table(spark, "t", n_tasks=2) == s


def test_expired_delete_file_fails_loudly_on_time_travel(spark, tmp_path):
    """Time travel to a snapshot whose DELETE file was expired must
    fail at resolve time — a silent partial scan would resurrect
    deleted rows."""
    cat = GraphCatalog(str(tmp_path / "g"))
    cat.write_table("t", _df(spark, [(1, "a")]))
    s2 = cat.delete_rows("t", _df(spark, [(1, "x")]), ["k"])
    cat.compact_table(spark, "t", n_tasks=1)
    cat.expire_snapshots("t", keep_last=1)
    with pytest.raises(FileNotFoundError, match="expired"):
        cat.read_table(spark, "t", snapshot_id=s2)


def test_mor_validations(spark, tmp_path):
    cat = GraphCatalog(str(tmp_path / "g"))
    with pytest.raises(FileNotFoundError):
        cat.delete_rows("t", _df(spark, [(1, "a")]), ["k"])
    cat.write_table("t", _df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="key_cols"):
        cat.delete_rows("t", _df(spark, [(1, "a")]), [])
    with pytest.raises(ValueError, match="strategy"):
        cat.merge_table(spark, "t", _df(spark, [(1, "a")]), ["k"],
                        strategy="bogus")


def test_merge_rejects_dtype_mismatch_before_commit(spark, tmp_path):
    """A MoR merge whose updates carry a same-named, incompatibly-typed
    column used to COMMIT fine and then break every subsequent read at
    plan build (unionByName across sequence branches) — the table was
    unreadable until overwritten. Both strategies must fail before
    writing anything."""
    cat = GraphCatalog(str(tmp_path / "g"))
    cat.write_table("t", _df(spark, [(1, "a")]))
    bad = spark.createDataFrame([(1, 7)], "k long, v long")  # v: str→long
    for strategy in ("mor", "cow"):
        with pytest.raises(ValueError, match="dtype"):
            cat.merge_table(spark, "t", bad, ["k"], strategy=strategy)
    assert len(cat.snapshots("t")) == 1  # nothing committed
    # and the table still reads
    assert {tuple(r) for r in
            cat.read_table(spark, "t").collect()} == {(1, "a")}


# ---- changelog scans (read_changes) ------------------------------------

def _changes(spark, cat, name, frm, to=None):
    return {tuple(r) for r in
            cat.read_changes(spark, name, frm, to).collect()}


def test_changelog_since_creation_is_all_inserts(spark, tmp_path):
    cat = GraphCatalog(str(tmp_path / "g"))
    cat.write_table("t", _df(spark, [(1, "a"), (2, "b")]))
    got = _changes(spark, cat, "t", None)
    assert got == {(1, "a", "insert", 1), (2, "b", "insert", 1)}


def test_changelog_emits_range_inserts_and_deletes(spark, tmp_path):
    """Inserts come from exactly the data dirs committed in the range,
    deletes as keys-only rows (non-key columns NULL); replaying the
    changelog in _commit_seq order over the range-start state must
    reproduce the head table — the incremental-consumer contract."""
    cat = GraphCatalog(str(tmp_path / "g"))
    s1 = cat.write_table("t", _df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    cat.merge_table(spark, "t", _df(spark, [(2, "B"), (4, "d")]), ["k"],
                    strategy="mor")
    cat.delete_rows("t", _df(spark, [(3, "x"), (4, "x")]), ["k"])
    got = _changes(spark, cat, "t", s1)
    assert got == {
        (2, "B", "insert", 2), (4, "d", "insert", 2),
        # the merge's own equality-delete file covers EVERY update key —
        # a delete of a not-yet-existing key (4) is emitted and inert
        (2, None, "delete", 2), (4, None, "delete", 2),
        (3, None, "delete", 3), (4, None, "delete", 3),
    }
    # replay: start state + ordered changes == head read
    state = {(1, "a"), (2, "b"), (3, "c")}
    for k, v, kind, _seq in sorted(got, key=lambda r: (r[3], r[2] != "delete")):
        if kind == "delete":
            state = {(sk, sv) for sk, sv in state if sk != k}
        else:
            state.add((k, v))
    assert state == _read(spark, cat, "t")


def test_changelog_rejects_mid_history_overwrite(spark, tmp_path):
    cat = GraphCatalog(str(tmp_path / "g"))
    s1 = cat.write_table("t", _df(spark, [(1, "a")]))
    # COW merge rewrites the file set — row-level delta unrecoverable
    cat.merge_table(spark, "t", _df(spark, [(1, "A")]), ["k"])
    with pytest.raises(ValueError, match="overwrite"):
        cat.read_changes(spark, "t", s1)


def test_changelog_bad_range_and_empty_range(spark, tmp_path):
    cat = GraphCatalog(str(tmp_path / "g"))
    s1 = cat.write_table("t", _df(spark, [(1, "a")]))
    with pytest.raises(KeyError, match="ancestor"):
        cat.read_changes(spark, "t", "nonexistent-snap")
    empty = cat.read_changes(spark, "t", s1, s1)
    assert empty.count() == 0
    assert empty.columns == ["k", "v", "_change_type", "_commit_seq"]


def test_changelog_crosses_compaction(spark, tmp_path):
    """Compaction commits are net-content no-ops flagged props.replace:
    the changelog skips them (Iceberg skips replace commits the same
    way), so an incremental consumer's range can cross maintenance.
    Deltas are per-commit, so the pre-compaction merge's changes are
    still emitted from its own (not-yet-expired) dirs."""
    cat = GraphCatalog(str(tmp_path / "g"))
    s1 = cat.write_table("t", _df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    cat.merge_table(spark, "t", _df(spark, [(2, "B"), (4, "d")]), ["k"],
                    strategy="mor")
    cat.compact_table(spark, "t", n_tasks=1)
    cat.delete_rows("t", _df(spark, [(3, "x")]), ["k"])
    got = _changes(spark, cat, "t", s1)
    assert got == {
        (2, "B", "insert", 2), (4, "d", "insert", 2),
        (2, None, "delete", 2), (4, None, "delete", 2),
        (3, None, "delete", 4),
    }
    # ordered replay over the range-start state reproduces the head
    state = {(1, "a"), (2, "b"), (3, "c")}
    for k, v, kind, _seq in sorted(
            got, key=lambda r: (r[3], r[2] != "delete")):
        if kind == "delete":
            state = {(sk, sv) for sk, sv in state if sk != k}
        else:
            state.add((k, v))
    assert state == _read(spark, cat, "t")


def test_changelog_fails_loudly_when_range_dirs_expired(spark, tmp_path):
    cat = GraphCatalog(str(tmp_path / "g"))
    s1 = cat.write_table("t", _df(spark, [(1, "a")]))
    cat.merge_table(spark, "t", _df(spark, [(1, "A")]), ["k"],
                    strategy="mor")
    cat.compact_table(spark, "t", n_tasks=1)
    cat.expire_snapshots("t", keep_last=1)
    with pytest.raises(FileNotFoundError, match="expired"):
        cat.read_changes(spark, "t", s1).collect()


def test_delete_rows_rejects_unknown_key_column(spark, tmp_path):
    """A delete file keyed on a column the table lacks would commit fine
    and then poison every read's anti-join — rejected pre-write."""
    cat = GraphCatalog(str(tmp_path / "g"))
    cat.write_table("t", _df(spark, [(1, "a")]))
    n_before = len(cat.snapshots("t"))
    with pytest.raises(ValueError, match="not in table"):
        cat.delete_rows("t", spark.createDataFrame([(1,)], "K long"), ["K"])
    assert len(cat.snapshots("t")) == n_before
    assert _read(spark, cat, "t") == {(1, "a")}
    # layout table (no recorded schema): validated via a footer read
    cat.write_edges(_edges(spark, 3, "a"))
    with pytest.raises(ValueError, match="not in table"):
        cat.delete_rows("edges",
                        spark.createDataFrame([("x",)], "nope string"),
                        ["nope"])


def test_changelog_reads_multi_dir_edges(spark, tmp_path):
    """read_changes on the partitioned edges table whose head spans
    several snapshot dirs (each its own partitionBy root) — the plain
    multi-path head read would die with CONFLICTING_DIRECTORY_STRUCTURES."""
    cat = GraphCatalog(str(tmp_path / "g"))
    s1 = cat.write_edges(_edges(spark, 3, "a"))
    cat.write_edges(_edges(spark, 2, "b"), mode="append")
    cat.write_edges(_edges(spark, 2, "c"), mode="append")
    got = {tuple(r) for r in cat.read_changes(spark, "edges", s1)
           .select("subj", "pred", "obj", "_change_type").collect()}
    assert got == {
        ("b-s0", "ucohasCVE_ID", "o0", "insert"),
        ("b-s1", "ucohasCVE_ID", "o1", "insert"),
        ("c-s0", "ucohasCVE_ID", "o0", "insert"),
        ("c-s1", "ucohasCVE_ID", "o1", "insert"),
    }


def test_concurrent_mor_writers_never_lose_updates(spark, tmp_path):
    """OCC under racing MoR commits: N threads each delete a disjoint
    key against the same head. delete_rows is snapshot-pinned, so a
    CAS loser surfaces CommitConflictError rather than silently
    committing against a head it never saw; with a caller-side retry
    every delete lands exactly once and no update is lost."""
    import threading

    from uckg_spark.sources.catalog import CommitConflictError

    cat = GraphCatalog(str(tmp_path / "g"))
    cat.write_table("t", _df(spark, [(i, f"v{i}") for i in range(8)]))
    errs, done = [], []

    def worker(k):
        keys = spark.createDataFrame([(k,)], "k long")
        for _ in range(20):  # caller-side retry loop
            try:
                cat.delete_rows("t", keys, ["k"])
                done.append(k)
                return
            except CommitConflictError:
                continue
        errs.append(k)

    ts = [threading.Thread(target=worker, args=(k,)) for k in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs and sorted(done) == [0, 1, 2, 3]
    assert _read(spark, cat, "t") == {
        (i, f"v{i}") for i in range(4, 8)}
    # every commit is in the log exactly once, seqs strictly increase
    seqs = [s.get("seq", 0) for s in cat.snapshots("t")]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
