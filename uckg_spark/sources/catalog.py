"""Graph-table catalog: snapshot-versioned partitioned nodes/edges tables.

S9/S10 analog (SURVEY.md §2.1): the reference streams Turtle into Neo4j via
n10s (/root/reference/process/graph_updater.py:13-28); the graft's
deliverable is partitioned columnar tables with Iceberg-style snapshot
semantics on plain parquet:

- **Immutable snapshot dirs.** Every write lands in a fresh
  ``<table>/snap-<id>/`` directory; committed data files are never mutated.
  A writer that dies mid-write leaves an orphan directory that no reader
  ever sees (readers resolve data through the committed metadata only).
- **Atomic commit, no locks.** Metadata lives in numbered, immutable
  version files (``_heads/v<N>.json``, each holding the full head map
  plus that commit's snapshot row — the Iceberg HadoopCatalog layout).
  A commit writes a temp file, then CASes it to ``v<N+1>.json`` with
  ``os.link`` — atomic, and FAILS if the version already exists (the
  rename-if-absent primitive object stores and HDFS offer; plain
  ``os.replace`` silently overwrites and is NOT a CAS). A lost physical
  race re-reads the head and retries. No flock: nothing here assumes
  advisory locks exist, which object-store-backed deployments don't have.
- **Optimistic concurrency.** Each commit names the parent snapshot it was
  based on; if a concurrent commit moved the TABLE's head the retry
  re-validation raises ``CommitConflictError`` instead of silently
  clobbering the interleaved writer (Iceberg's validate-then-swap loop);
  commits to OTHER tables interleave freely through the retry.
- **Time travel.** ``read_edges(..., snapshot_id=...)`` reads any retained
  snapshot; ``expire_snapshots`` garbage-collects unreferenced data dirs
  (and orphans from crashed writers).
- **Append + overwrite snapshots.** An append snapshot's file set is the
  parent's dirs plus the new dir; an overwrite snapshot replaces the set.
- **Merge-on-read deletes** (Iceberg v2 equality-delete analog). Every
  commit carries a monotonic sequence number; ``delete_rows`` and
  ``merge_table(strategy="mor")`` commit small keys-only delete files
  instead of rewriting the table, and readers drop data rows matched by
  an equal-key delete row of STRICTLY GREATER sequence — O(|changes|)
  written per fact-table merge, reads stay one anti-join against the
  (broadcast-sized) delete set until ``compact_table``/``compact_edges``
  materializes the net state and frees the delete files. A snapshot's
  ``rows`` field counts data-file rows BEFORE delete application (the
  Iceberg total-data-records summary, not the net count).
- **Add-column schema evolution** (generic tables). Every ``write_table``
  commit records its schema; appends may add new columns or omit
  existing ones — the commit records the union schema, readers conform
  every data dir to it (columns a dir predates read as typed NULLs),
  and a dtype change is rejected BEFORE the write job runs. Tables that
  were only ever written under one schema keep the plain multi-path
  scan. The layout tables (edges/nodes) have fixed schemas by contract
  and do not evolve.

Layout choices for the KG access paths:

- ``edges`` partitioned by ``pred`` — predicate-sliced scans (the dominant
  access: "all hasVulnerability edges") prune at the directory level;
  within a partition, files are sorted by subj for locality.
- ``nodes`` files sorted by uri.
- Both writes are one shuffle that AQE sizes from the data (a
  ``rebalance`` hint): a small graph coalesces to a few files, and a
  partition past the advisory size splits, so a hot predicate still
  spreads over several writers. Partitioning pays only once the data
  needs it (*To Partition, or Not to Partition*, SIGMOD 2021); a fixed
  32-way write of a ~1000-edge graph made ~150 files.
"""

from __future__ import annotations

import functools
import json
import os
import random
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as Ty


class CommitConflictError(RuntimeError):
    """Head moved between write start and commit (concurrent writer won)."""


# MoR merges at or below this many update rows derive their keys-only
# delete file driver-side (pyarrow read of the just-written footprint's
# key columns) instead of through a second Spark job — the same
# small-side budget class as a broadcast build.
_MOR_DRIVER_DELETE_MAX_ROWS = 1_000_000


# ---- snapshot-row accessors tolerant of pre-MoR commit rows ------------
# (rows committed before merge-on-read landed carry no seq/deletes keys;
#  they read as "everything at sequence 0, no delete files")

def _seq_of(snap: dict) -> int:
    return snap.get("seq", 0)


def _dir_seqs_of(snap: dict) -> list[int]:
    return snap.get("dir_seqs") or [0] * len(snap["dirs"])


def _deletes_of(snap: dict) -> list[dict]:
    return snap.get("deletes") or []


def _schema_of(snap: dict) -> list[list[str]] | None:
    """[[name, dtype], ...] recorded at commit, or None for layout
    tables and pre-evolution commits (schema then comes from footers)."""
    return snap.get("schema")


def _evolve_schema(parent: dict | None,
                   new: list[list[str]]) -> tuple[list[list[str]], bool]:
    """Union an append's schema into the parent's (Iceberg add-column
    evolution): new columns append in writer order, existing columns
    must keep their dtype (a type change is a different column — reject,
    don't corrupt), columns the writer omitted stay (read as NULL for
    the new dir). Returns (union schema, uniform) where uniform means
    every data dir so far was written under the identical schema — the
    reader's license to skip schema conforming."""
    old = _schema_of(parent) if parent else None
    if old is None:
        # A parent with data dirs but NO recorded schema is a legacy
        # (pre-evolution) table: its footers may not carry the appended
        # columns, so the read must take the mergeSchema+_conform path —
        # claiming uniform=True here made a later add-column append read
        # the new column from an arbitrary footer (silently NULL/absent).
        legacy_dirs = bool(parent and parent.get("dirs"))
        return new, not legacy_dirs
    old_types = dict(map(tuple, old))
    conflicts = [
        (c, old_types[c], t) for c, t in new
        if c in old_types and old_types[c] != t
    ]
    if conflicts:
        raise ValueError(
            "schema evolution rejects dtype changes: "
            + "; ".join(f"{c!r} {a} -> {b}" for c, a, b in conflicts))
    union = [list(p) for p in old] + [
        [c, t] for c, t in new if c not in old_types]
    uniform = (bool(parent.get("uniform_schema", True))
               and [list(p) for p in new] == [list(p) for p in old])
    return union, uniform


def _carry_schema(parent: dict) -> dict:
    """Schema keys a metadata-only commit (delete, MoR merge) inherits
    unchanged from its parent."""
    if _schema_of(parent) is None:
        return {}
    return {"schema": _schema_of(parent),
            "uniform_schema": bool(parent.get("uniform_schema", True))}


def _stats_of(snap: dict) -> dict:
    """{dir_rel: {file_rel: {col: [min, max]}}} recorded at commit, or
    {} for pre-stats commit rows (reads then skip pruning for those
    dirs — conservative)."""
    return snap.get("file_stats") or {}


def _collect_file_stats(abs_dir: str) -> dict:
    """Per-data-file column min/max from the parquet FOOTERS of the
    just-written dir — the Iceberg manifest-stats analog, gathered
    without scanning any data pages (footer metadata only, so the cost
    per commit is O(files), not O(rows)).

    Only numeric and string leaf columns get stats (timestamps,
    decimals, binary and nested are skipped — a missing column is
    simply never pruned on, which is the safe direction). Files inside partition subdirectories
    (``key=value`` path segments) are skipped too: reading individual
    leaf files would lose the partition column, so partitioned layouts
    keep whole-dir scans (they already prune by directory)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for fname in sorted(os.listdir(abs_dir)):
        if not fname.endswith(".parquet"):
            continue  # partition subdirs ("pred=...") never match: those
            # layouts keep whole-dir scans (already directory-pruned)
        fpath = os.path.join(abs_dir, fname)
        if not os.path.isfile(fpath):
            continue
        try:
            md = pq.ParquetFile(fpath).metadata
        except Exception:
            continue  # unreadable footer: no stats, file is never pruned
        cols: dict[str, list] = {}
        ok: set[str] = set()
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                st = col.statistics
                try:
                    lo, hi = ((st.min, st.max) if st is not None
                              and st.has_min_max else (None, None))
                except pa.ArrowNotImplementedError:  # e.g. INT64 decimals
                    lo = hi = None
                if (not isinstance(lo, (int, float, str))
                        or isinstance(lo, bool)):
                    cols.pop(name, None)
                    ok.discard(name)
                    continue
                if rg == 0:
                    cols[name] = [lo, hi]
                    ok.add(name)
                elif name in ok:
                    cols[name][0] = min(cols[name][0], lo)
                    cols[name][1] = max(cols[name][1], hi)
        # a column must have stats in EVERY row group to be prunable
        cols = {c: v for c, v in cols.items() if c in ok}
        if md.num_rows == 0:
            out[fname] = {}  # provably empty: prunable under ANY predicate
        elif cols:
            out[fname] = cols
    return out


def _file_survives(stats: dict | None, prune: dict) -> bool:
    """Conservative range check: a file is pruned only when its recorded
    [min, max] for some predicate column provably misses (lo, hi).
    Missing stats (no footer stats, pre-stats commit, evolved column
    the file predates) keep the file; a recorded EMPTY stats dict means
    the file has zero rows and never survives a pruned scan."""
    if stats is None:
        return True
    if not stats:
        return False  # recorded as 0-row at commit time
    for col, (lo, hi) in prune.items():
        rng = stats.get(col)
        if rng is None:
            continue
        mn, mx = rng
        if lo is not None and type(lo) is type(mx) and mx < lo:
            return False
        if hi is not None and type(hi) is type(mn) and mn > hi:
            return False
    return True


def _conform(df: DataFrame, schema: list[list[str]]) -> DataFrame:
    """Project a data-dir scan onto the table's union schema: columns
    the dir predates read as typed NULLs, order normalized."""
    have = set(df.columns)
    for c, t in schema:
        if c not in have:
            df = df.withColumn(c, F.lit(None).cast(t))
    return df.select(*[c for c, _t in schema])


def _apply_equality_deletes(
    spark: SparkSession, data: DataFrame, root: str,
    deletes: list[dict],
) -> DataFrame:
    """Merge-on-read scan: drop every data row for which some delete
    file holds an equal-key row with a STRICTLY GREATER sequence number
    (Iceberg v2 equality-delete semantics — a delete applies only to
    data committed before it, so an upsert's own rows survive its own
    delete file and re-upserts chain correctly). ``data`` must carry a
    ``_seq`` column; it is dropped on the way out.

    One left-anti join per distinct key set (normally one). The delete
    side is the concatenation of small keys-only parquet files —
    dimension-merge sized — so AQE broadcasts it; the data side is
    never shuffled. Plans with no delete files never reach here (the
    fast path is untouched)."""
    by_keys: dict[tuple, list[dict]] = {}
    for d in deletes:
        by_keys.setdefault(tuple(d["keys"]), []).append(d)
    for keys, group in sorted(by_keys.items()):
        dels = None
        for d in group:
            b = (spark.read.parquet(os.path.join(root, d["dir"]))
                 .select(*keys)
                 .withColumn("_dseq", F.lit(int(d["seq"]))))
            dels = b if dels is None else dels.unionByName(b)
        cond = functools.reduce(
            lambda a, b: a & b, [data[k] == dels[k] for k in keys])
        data = data.join(dels, cond & (dels["_dseq"] > data["_seq"]),
                         "left_anti")
    return data.drop("_seq")


class GraphCatalog:
    def __init__(self, root: str):
        self.root = root
        self._heads_dir = os.path.join(root, "_heads")
        os.makedirs(self._heads_dir, exist_ok=True)

    # ---- metadata ------------------------------------------------------

    def _versions(self) -> list[str]:
        """Committed version-file names, oldest first (v000...1.json, …)."""
        return sorted(
            n for n in os.listdir(self._heads_dir)
            if n.startswith("v") and n.endswith(".json")
        )

    def _load_version(self, name: str) -> dict:
        with open(os.path.join(self._heads_dir, name)) as f:
            return json.load(f)

    def snapshots(self, table: str | None = None) -> list[dict]:
        """All committed snapshots, oldest first (the snapshot log — each
        version file embeds exactly the commit that created it, so losers
        of a commit race leave no trace in the log)."""
        rows = [self._load_version(n)["commit"] for n in self._versions()]
        if table is not None:
            rows = [r for r in rows if r["table"] == table]
        return rows

    def snapshot(self, table: str, snapshot_id: str) -> dict:
        for r in self.snapshots(table):
            if r["snapshot_id"] == snapshot_id:
                return r
        raise KeyError(f"no snapshot {snapshot_id!r} for table {table!r}")

    def _head_state(self) -> tuple[int, dict]:
        """(latest version number, its full per-table head map)."""
        versions = self._versions()
        if not versions:
            return 0, {}
        last = versions[-1]
        return int(last[1:-5]), self._load_version(last)["heads"]

    def _head(self) -> dict:
        return self._head_state()[1]

    def latest_snapshot(self, table: str) -> dict | None:
        head = self._head().get(table)
        return self.snapshot(table, head) if head else None

    def _commit(self, table: str, row: dict, expected_parent: str | None,
                max_attempts: int = 24) -> None:
        """Lock-free validate-then-CAS: write the new head map + commit row
        to a temp file, then ``os.link`` it to the next version number —
        atomic, and it FAILS (EEXIST) when a concurrent commit claimed
        that version first. On a lost physical race, re-read and retry:
        if the re-read shows THIS table's head moved, the conflict is
        logical and ``CommitConflictError`` propagates (a stale writer
        must never clobber); if only other tables advanced, the commit
        retries against the new version number. This is exactly Iceberg's
        HadoopTableOperations rename-if-absent protocol — no flock, so it
        remains correct where advisory locks don't exist (object stores,
        NFS)."""
        for attempt in range(max_attempts):
            version, heads = self._head_state()
            if heads.get(table) != expected_parent:
                raise CommitConflictError(
                    f"{table}: head is {heads.get(table)!r}, "
                    f"commit expected parent {expected_parent!r}"
                )
            heads = dict(heads)
            heads[table] = row["snapshot_id"]
            tmp = os.path.join(self._heads_dir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump({"heads": heads, "commit": row}, f)
                f.flush()
                os.fsync(f.fileno())
            dst = os.path.join(self._heads_dir, f"v{version + 1:012d}.json")
            try:
                os.link(tmp, dst)  # atomic create-if-absent — the CAS
                return
            except FileExistsError:
                # lost the physical race; back off briefly and re-validate
                time.sleep(random.uniform(0.001, 0.01) * (attempt + 1))
            finally:
                os.unlink(tmp)
        raise CommitConflictError(
            f"{table}: lost the head CAS race {max_attempts} times "
            f"(pathological commit contention)")

    # ---- writes --------------------------------------------------------

    _UNPINNED = object()  # sentinel: "parent = whatever head is at write time"

    def _write_snapshot(self, table: str, writer, mode: str,
                        props: dict | None = None,
                        expected_parent_id=_UNPINNED,
                        schema: list[list[str]] | None = None) -> str:
        """Write a fresh immutable ``snap-<id>`` dir, then commit it as the
        new head. ``writer(path) -> rows_written`` runs the Spark job; the
        commit happens only after the data is fully on disk, so a crashed
        writer leaves an invisible orphan dir, never a half-visible table.
        ``props`` rides in the commit row (Iceberg snapshot-summary
        analog) — e.g. the streaming batch id that produced the snapshot,
        which is what makes foreachBatch maintenance exactly-once."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        if expected_parent_id is GraphCatalog._UNPINNED:
            parent = self.latest_snapshot(table)
        else:
            # snapshot-pinned commit (read-modify-write callers like
            # merge_table): the commit must land on EXACTLY the snapshot
            # the caller read, else a concurrent writer's rows would be
            # silently overwritten — _commit raises CommitConflictError
            # when the head moved
            parent = (self.snapshot(table, expected_parent_id)
                      if expected_parent_id is not None else None)
        if schema is not None and mode == "append":
            # validate BEFORE the write: a dtype conflict must not cost
            # a corpus-sized job first
            evolved, uniform = _evolve_schema(parent, schema)
        else:
            evolved, uniform = schema, True
        snap = uuid.uuid4().hex[:12]
        rel_dir = os.path.join(table, f"snap-{snap}")
        rows_written = int(writer(os.path.join(self.root, rel_dir)))
        new_stats = _collect_file_stats(os.path.join(self.root, rel_dir))
        seq = (_seq_of(parent) + 1) if parent else 1
        dirs, dir_seqs = [rel_dir], [seq]
        file_stats = {rel_dir: new_stats} if new_stats else {}
        deletes: list[dict] = []  # overwrite clears any delete files
        total = rows_written
        if mode == "append" and parent is not None:
            # an EMPTY append still commits (exactly-once foreachBatch
            # rides its batch id in props even for empty micro-batches)
            # but contributes no data dir: a 0-row partitioned write
            # leaves a dir with no partition subdirectories, and a later
            # multi-dir read would die on CONFLICTING_DIRECTORY_STRUCTURES.
            # The orphan dir is collected by expire_snapshots like any
            # crashed-writer leftover.
            keep = [rel_dir] if rows_written else []
            dirs = parent["dirs"] + keep
            dir_seqs = _dir_seqs_of(parent) + ([seq] if keep else [])
            deletes = _deletes_of(parent)  # appends preserve delete files
            file_stats = {**_stats_of(parent),
                          **({rel_dir: new_stats}
                             if keep and new_stats else {})}
            total += parent["rows"]
            if schema is not None and not keep:
                # a dropped 0-row dir declares no schema: inherit
                evolved = _schema_of(parent)
                uniform = bool(parent.get("uniform_schema", True))
        self._commit(table, {
            "table": table, "snapshot_id": snap,
            "parent_id": parent["snapshot_id"] if parent else None,
            "rows": total, "rows_written": rows_written,
            "dirs": dirs, "dir_seqs": dir_seqs, "seq": seq,
            "deletes": deletes, "ts": time.time(), "mode": mode,
            **({"file_stats": file_stats} if file_stats else {}),
            **({"schema": evolved, "uniform_schema": uniform}
               if evolved is not None else {}),
            **({"props": props} if props else {}),
        }, expected_parent=parent["snapshot_id"] if parent else None)
        return snap

    def write_table(self, name: str, df: DataFrame, n_tasks: int = 8,
                    mode: str = "overwrite",
                    props: dict | None = None,
                    expected_parent_id=_UNPINNED) -> str:
        """Generic snapshot table (no layout contract beyond parquet) —
        the materialized-view slot beside the edges/nodes tables."""
        if name in ("edges", "nodes"):
            raise ValueError(
                f"{name!r} has a dedicated layout writer; use it")
        from pyspark.sql import Observation

        def write(path: str) -> int:
            obs = Observation(f"{name}_{uuid.uuid4().hex[:8]}")
            (
                df.observe(obs, F.count(F.lit(1)).alias("n"))
                # coalesce, not repartition: ``n_tasks`` CAPS the output
                # file count without paying a full round-robin shuffle
                # (+ its sort-before-repartition) per commit — the write
                # job is scan→write. A caller that needs rebalancing
                # repartitions the frame it passes in.
                .coalesce(n_tasks)
                .write.mode("overwrite").parquet(path)
            )
            return int(obs.get["n"])

        return self._write_snapshot(
            name, write, mode, props=props,
            expected_parent_id=expected_parent_id,
            schema=[[c, t] for c, t in df.dtypes])

    def _write_delete_dir(self, table: str, keys: DataFrame,
                          key_cols: list[str], n_tasks: int = 1
                          ) -> tuple[str, int]:
        """Write a keys-only equality-delete parquet dir (uncommitted —
        the caller commits it; a crash here leaves an expirable orphan).
        Keys are deduped: delete files are sets, not logs."""
        from pyspark.sql import Observation

        rel = os.path.join(table, f"del-{uuid.uuid4().hex[:12]}")
        obs = Observation(f"del_{uuid.uuid4().hex[:8]}")
        (
            keys.select(*key_cols).distinct()
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .coalesce(n_tasks)
            .write.mode("overwrite").parquet(os.path.join(self.root, rel))
        )
        return rel, int(obs.get["n"])

    def _write_delete_dir_local(self, table: str, data_abs_dir: str,
                                key_cols: list[str]) -> tuple[str, int]:
        """Driver-side twin of :meth:`_write_delete_dir` for small MoR
        merges of flat keys: read ONLY the key columns of the
        just-written data dir with pyarrow (local files, column-pruned),
        distinct them, and write the keys-only delete parquet directly —
        no Spark job. Same set semantics as the distributed path
        (``group_by`` dedup), read back by a plain ``spark.read.parquet``
        either way. Spark writes timestamps as INT96, which pyarrow reads
        as nanoseconds; they are written back as microseconds, the unit
        Spark reads. (pyarrow cannot group nested keys: those merges take
        the Spark path.)"""
        import pyarrow.parquet as pq

        keys = pq.read_table(data_abs_dir, columns=list(key_cols))
        uniq = keys.group_by(list(key_cols)).aggregate([])
        rel = os.path.join(table, f"del-{uuid.uuid4().hex[:12]}")
        abs_dir = os.path.join(self.root, rel)
        os.makedirs(abs_dir, exist_ok=True)
        pq.write_table(uniq, os.path.join(abs_dir, "part-00000.parquet"),
                       compression="zstd", coerce_timestamps="us")
        return rel, uniq.num_rows

    def delete_rows(self, name: str,
                    keys: DataFrame, key_cols: list[str],
                    props: dict | None = None) -> str:
        """Merge-on-read DELETE: commit an equality-delete file against
        the current head instead of rewriting the table — O(|keys|)
        written regardless of table size, the fact-scale retraction path
        (e.g. dropping a re-crawled page's stale triples from the edges
        table). Readers anti-join the delete keys (sequence-aware, see
        ``_apply_equality_deletes``); ``compact_table``/``compact_edges``
        later materializes the net table and clears the delete files.

        OCC is snapshot-pinned like ``merge_table``: the delete's
        sequence number must order against exactly the head it read, so
        a concurrent writer surfaces as ``CommitConflictError`` rather
        than deleting rows it never saw. Works on any table (edges,
        nodes, generic); key columns must exist in the table schema."""
        if not key_cols:
            raise ValueError("key_cols must be non-empty")
        head = self.latest_snapshot(name)
        if head is None:
            raise FileNotFoundError(f"table {name!r} has no committed snapshot")
        # validate the key columns against the TABLE before writing: a
        # delete file keyed on a column the table lacks would commit
        # fine and then poison every subsequent read's anti-join
        schema = _schema_of(head)
        if schema is not None:
            table_cols = [c for c, _t in schema]
        elif head["dirs"]:  # layout/legacy table: one footer read
            table_cols = keys.sparkSession.read.parquet(
                os.path.join(self.root, head["dirs"][0])).columns
        else:  # degenerate empty table: nothing a bad key could poison
            table_cols = list(keys.columns)
        missing = [c for c in key_cols if c not in table_cols]
        if missing:
            raise ValueError(
                f"delete key columns {missing} not in table {name!r} "
                f"columns {table_cols}")
        rel, n_keys = self._write_delete_dir(name, keys, key_cols)
        seq = _seq_of(head) + 1
        snap = uuid.uuid4().hex[:12]
        self._commit(name, {
            "table": name, "snapshot_id": snap,
            "parent_id": head["snapshot_id"],
            "rows": head["rows"], "rows_written": 0,
            "dirs": head["dirs"], "dir_seqs": _dir_seqs_of(head),
            "seq": seq,
            "deletes": _deletes_of(head) + [
                {"dir": rel, "seq": seq, "keys": list(key_cols),
                 "rows": n_keys}],
            "ts": time.time(), "mode": "delete",
            **({"file_stats": _stats_of(head)} if _stats_of(head) else {}),
            **_carry_schema(head),
            **({"props": props} if props else {}),
        }, expected_parent=head["snapshot_id"])
        return snap

    def merge_table(self, spark: SparkSession, name: str,
                    updates: DataFrame, key_cols: list[str],
                    n_tasks: int = 8, strategy: str = "cow",
                    props: dict | None = None) -> str:
        """MERGE INTO (keyed upsert), copy-on-write: rows of ``updates``
        REPLACE current rows with the same key, new keys insert, and the
        result commits as a fresh snapshot (the old head stays
        time-travelable). This is the Iceberg MERGE COW mode on the shim
        — the write path a dimension table or incrementally-maintained
        materialized view runs every sync.

        OCC is SNAPSHOT-PINNED, not head-at-write-time: the merge reads
        head S, computes against S, and commits with expected parent S —
        a concurrent writer that advanced the head in between surfaces
        as ``CommitConflictError`` (re-read and re-merge), never a lost
        update. An unpinned read-modify-write would silently drop the
        concurrent writer's rows; this is the difference between MERGE
        and blind overwrite.

        Duplicate keys WITHIN ``updates`` are the caller's contract
        violation (which row wins would be nondeterministic) — dedupe
        latest-wins first (e.g. ``scd2_history``'s collapse or
        ``sources/dims.py``'s ``latest_rows``).

        Scale shape, ``strategy="cow"`` (default): one anti-join
        shuffled on the merge key + the rewrite. COW rewrites the whole
        table per merge — right for dimension-scale tables, and reads
        stay plain parquet scans.

        ``strategy="mor"`` (merge-on-read, the Iceberg v2
        equality-delete analog) is the fact-scale path: the merge
        writes ONLY the update rows as a new data dir plus their keys
        as a delete file — O(|updates|) written per merge regardless of
        table size. Readers apply delete files sequence-aware (a delete
        kills equal-key rows with strictly lower sequence, so the
        merge's own rows survive its own delete file and re-upserts
        chain); ``compact_table`` materializes the net table and clears
        the delete files when read amplification accumulates.
        """
        if not key_cols:
            raise ValueError("key_cols must be non-empty")
        if strategy not in ("cow", "mor"):
            raise ValueError(f"strategy must be cow|mor, got {strategy!r}")
        head = self.latest_snapshot(name)
        if head is None:
            return self.write_table(name, updates, n_tasks=n_tasks,
                                    props=props)
        # schema/dtype validation comes from the COMMIT ROW when the
        # table records one: building the full MoR read plan (union of
        # every data dir + delete anti-joins, one footer inference per
        # dir) just to ask for .columns/.dtypes costs driver time per
        # merge. The COW branch still constructs `current` below — it
        # rewrites the table and needs the frame anyway.
        sch = _schema_of(head)
        current = (None if sch is not None else
                   self.read_table(spark, name,
                                   snapshot_id=head["snapshot_id"]))
        cur_cols = ([c for c, _t in sch] if sch is not None
                    else list(current.columns))
        if sorted(cur_cols) != sorted(updates.columns):
            raise ValueError(
                f"schema mismatch: table {sorted(cur_cols)} vs "
                f"updates {sorted(updates.columns)}")
        missing = set(key_cols) - set(updates.columns)
        if missing:
            raise ValueError(f"key columns missing from updates: {missing}")
        # dtypes must match too, not just names: a MoR merge with a
        # same-named, incompatibly-typed column would COMMIT fine and
        # then break every subsequent read at plan build (unionByName
        # across sequence branches) — fail before writing instead, the
        # way the COW path happens to.
        cur_types = (dict((c, t) for c, t in sch) if sch is not None
                     else dict(current.dtypes))
        upd_types = dict(updates.dtypes)
        type_conflicts = [
            (c, cur_types[c], upd_types[c]) for c in cur_types
            if cur_types[c] != upd_types[c]
        ]
        if type_conflicts:
            raise ValueError(
                "merge rejects dtype changes: " + "; ".join(
                    f"{c!r} {a} -> {b}" for c, a, b in type_conflicts))
        if strategy == "mor":
            return self._merge_mor(name, updates.select(*cur_cols),
                                   key_cols, head, n_tasks=n_tasks,
                                   props=props)
        if current is None:  # COW rewrites the table: need the frame
            current = self.read_table(spark, name,
                                      snapshot_id=head["snapshot_id"])
        kept = current.join(
            updates.select(*key_cols).distinct(), key_cols, "left_anti")
        merged = kept.unionByName(updates.select(*cur_cols))
        return self.write_table(
            name, merged, n_tasks=n_tasks,
            expected_parent_id=head["snapshot_id"], props=props)

    def _merge_mor(self, name: str, updates: DataFrame,
                   key_cols: list[str], head: dict,
                   n_tasks: int = 8, props: dict | None = None) -> str:
        """One MoR merge commit: updates land as a fresh data dir AND
        their keys as an equality-delete file, both at the new commit's
        sequence number — data written before the commit, so a crash
        leaves two expirable orphans and no visible change."""
        from pyspark.sql import Observation

        snap = uuid.uuid4().hex[:12]
        data_rel = os.path.join(name, f"snap-{snap}")
        obs = Observation(f"mor_{uuid.uuid4().hex[:8]}")
        (
            updates.observe(obs, F.count(F.lit(1)).alias("n"))
            # coalesce caps files without a per-merge shuffle (see
            # write_table)
            .coalesce(n_tasks)
            .write.mode("overwrite").parquet(os.path.join(self.root, data_rel))
        )
        n_updates = int(obs.get["n"])
        # derive the delete keys from the JUST-WRITTEN dir, not the
        # caller's plan: an unpersisted fact-scale updates DAG would
        # otherwise execute end-to-end a second time; this is a local,
        # column-pruned parquet read instead. For merges below the
        # threshold the read AND the keys-only write happen driver-side
        # via pyarrow — one Spark job per MoR merge instead of two (the
        # delete file is a key SET; at 1M single-column keys it is a few
        # MB, the same budget class as a broadcast build side). Larger
        # merges keep the distributed path.
        flat = not any(
            isinstance(updates.schema[c].dataType,
                       (Ty.ArrayType, Ty.MapType, Ty.StructType))
            for c in key_cols)
        if flat and n_updates <= _MOR_DRIVER_DELETE_MAX_ROWS:
            del_rel, n_keys = self._write_delete_dir_local(
                name, os.path.join(self.root, data_rel), key_cols)
        else:
            written = updates.sparkSession.read.parquet(
                os.path.join(self.root, data_rel))
            del_rel, n_keys = self._write_delete_dir(name, written, key_cols)
        seq = _seq_of(head) + 1
        mor_stats = dict(_stats_of(head))
        new_stats = _collect_file_stats(os.path.join(self.root, data_rel))
        if new_stats:
            mor_stats[data_rel] = new_stats
        self._commit(name, {
            "table": name, "snapshot_id": snap,
            "parent_id": head["snapshot_id"],
            "rows": head["rows"] + n_updates, "rows_written": n_updates,
            "dirs": head["dirs"] + [data_rel],
            "dir_seqs": _dir_seqs_of(head) + [seq], "seq": seq,
            "deletes": _deletes_of(head) + [
                {"dir": del_rel, "seq": seq, "keys": list(key_cols),
                 "rows": n_keys}],
            "ts": time.time(), "mode": "merge-mor",
            **({"file_stats": mor_stats} if mor_stats else {}),
            **_carry_schema(head),
            **({"props": props} if props else {}),
        }, expected_parent=head["snapshot_id"])
        return snap

    def scan_files(self, name: str, snapshot_id: str | None = None,
                   prune: dict | None = None) -> dict[str, list[str]]:
        """The file set a read of this snapshot resolves to, per data
        dir, AFTER stats pruning — the Iceberg manifest-plan analog,
        computed driver-side from the commit-recorded footer stats
        without touching any data file.

        ``prune`` maps column → inclusive ``(lo, hi)`` range (either
        bound None for open). A file drops only when its recorded
        [min, max] for some predicate column provably misses the range;
        files/dirs without stats (pre-stats commits, partitioned
        layouts, evolved columns the file predates) always survive —
        pruning can skip work, never rows. A dir with no surviving
        files maps to []. With no ``prune``, every dir maps to its
        whole-dir sentinel [dir_path] (scans stay directory-granular)."""
        snap = self._resolve_snapshot(name, snapshot_id)
        all_stats = _stats_of(snap)
        out: dict[str, list[str]] = {}
        for rel in snap["dirs"]:
            abs_dir = os.path.join(self.root, rel)
            dstats = all_stats.get(rel)
            if not prune or not dstats:
                out[rel] = [abs_dir]
                continue
            files = []
            for fname in sorted(os.listdir(abs_dir)):
                if not fname.endswith(".parquet"):
                    continue
                if _file_survives(dstats.get(fname), prune):
                    files.append(os.path.join(abs_dir, fname))
            out[rel] = files
        return out

    def read_table(self, spark: SparkSession, name: str,
                   snapshot_id: str | None = None,
                   prune: dict | None = None) -> DataFrame:
        """Scan a snapshot. ``prune`` (column → inclusive (lo, hi))
        skips data FILES whose commit-recorded footer min/max provably
        miss the range — Iceberg's manifest pruning: the planner never
        opens pruned files. Pruning is advisory about WORK, not rows:
        surviving files may still contain non-matching rows, so the
        caller applies the real row filter on top (exactly as an engine
        re-applies predicates after Iceberg plans the file set)."""
        snap = self._resolve_snapshot(name, snapshot_id)
        if prune:
            by_dir = self.scan_files(name,
                                     snap["snapshot_id"], prune=prune)
            paths_of = lambda rel: by_dir[rel]  # noqa: E731
        else:
            paths_of = lambda rel: [os.path.join(self.root, rel)]  # noqa: E731
        deletes = _deletes_of(snap)
        schema = _schema_of(snap)
        uniform = bool(snap.get("uniform_schema", True))
        def empty_frame() -> DataFrame:
            # all files pruned: a typed 0-row frame. Recorded schema if
            # we have one; else the footers' (a limit-0 scan plans no
            # data pages — footer reads only).
            if schema is not None:
                return spark.createDataFrame(
                    [], ", ".join(f"`{c}` {t}" for c, t in schema))
            return spark.read.parquet(
                *[os.path.join(self.root, d) for d in snap["dirs"]]
            ).limit(0)

        def read_dirs(rels: list[str]) -> DataFrame | None:
            paths = [p for rel in rels for p in paths_of(rel)]
            if not paths:
                return None  # every file pruned
            r = spark.read
            if schema is not None and not uniform:
                r = r.option("mergeSchema", "true")
            elif schema is not None:
                # uniform table with a recorded schema: pass it to the
                # reader so plan construction skips footer schema
                # inference (the recorded schema IS the writer's
                # df.dtypes — identical to what inference would return)
                r = r.schema(", ".join(f"`{c}` {t}" for c, t in schema))
            return r.parquet(*paths)

        if not deletes:
            df = read_dirs(snap["dirs"])
            if df is None:
                return empty_frame()
            if uniform or schema is None:
                return df
            # add-column evolution: merge footers across schema versions,
            # then normalize to the recorded union schema (columns a dir
            # predates read as typed NULLs)
            return _conform(df, schema)
        # MoR scan: group data dirs by commit sequence (one scan branch
        # per sequence, not per dir), tag each with its sequence, and
        # anti-join the delete files. Delete FILES are never pruned —
        # a pruned data row simply isn't there to delete.
        by_seq: dict[int, list[str]] = {}
        for d, s in zip(snap["dirs"], _dir_seqs_of(snap)):
            by_seq.setdefault(s, []).append(d)
        data = None
        for s, ds in sorted(by_seq.items()):
            b = read_dirs(ds)
            if b is None:
                continue
            if schema is not None and not uniform:
                b = _conform(b, schema)
            b = b.withColumn("_seq", F.lit(s))
            data = b if data is None else data.unionByName(b)
        if data is None:
            return empty_frame()
        return _apply_equality_deletes(spark, data, self.root, deletes)

    def write_edges(self, edges: DataFrame, mode: str = "overwrite",
                    props: dict | None = None) -> str:
        """Edges partitioned by pred for directory-pruned scans.

        One shuffle on (pred, subj), sized by AQE from the data (the
        ``rebalance`` hint) rather than a fixed task count: a small graph
        coalesces into one task, which writes one file per predicate,
        and a partition past the advisory size is split. Hashing on
        (pred, subj), not pred alone, is what lets a hot predicate (every
        CVE mention emits ucohasCVE_ID) spread over several writers, each
        writing its own file into that pred's directory.
        Row count for the manifest is observed during the write (no second
        scan of the output)."""
        from pyspark.sql import Observation

        def write(path: str) -> int:
            obs = Observation(f"edges_{uuid.uuid4().hex[:8]}")
            (
                edges.observe(obs, F.count(F.lit(1)).alias("n"))
                .hint("rebalance", "pred", "subj")
                .sortWithinPartitions("pred", "subj", "obj")
                .write.mode("overwrite")
                .partitionBy("pred")
                .parquet(path)
            )
            return int(obs.get["n"])

        return self._write_snapshot("edges", write, mode, props=props)

    def write_nodes(self, nodes: DataFrame, mode: str = "overwrite",
                    props: dict | None = None) -> str:
        """Nodes sorted by uri, after one shuffle on uri that AQE sizes
        from the data (the ``rebalance`` hint, as in ``write_edges``)."""
        from pyspark.sql import Observation

        def write(path: str) -> int:
            obs = Observation(f"nodes_{uuid.uuid4().hex[:8]}")
            (
                nodes.observe(obs, F.count(F.lit(1)).alias("n"))
                .hint("rebalance", "uri")
                .sortWithinPartitions("uri")
                .write.mode("overwrite")
                .parquet(path)
            )
            return int(obs.get["n"])

        return self._write_snapshot("nodes", write, mode, props=props)

    # ---- reads ---------------------------------------------------------

    def _resolve_snapshot(self, table: str, snapshot_id: str | None) -> dict:
        """Snapshot row with every referenced dir (data AND delete)
        verified present on disk — a time-traveled read of an expired
        snapshot fails loudly here, not with a partial scan."""
        snap = (self.snapshot(table, snapshot_id) if snapshot_id
                else self.latest_snapshot(table))
        if snap is None:
            raise FileNotFoundError(f"table {table!r} has no committed snapshot")
        rels = list(snap["dirs"]) + [d["dir"] for d in _deletes_of(snap)]
        missing = [d for d in (os.path.join(self.root, r) for r in rels)
                   if not os.path.isdir(d)]
        if missing:
            raise FileNotFoundError(
                f"snapshot {snap['snapshot_id']} of {table!r} was expired; "
                f"missing data dirs: {missing}")
        return snap

    def _read_layout_table(self, spark: SparkSession, table: str,
                           snapshot_id: str | None
                           ) -> tuple[DataFrame, list[dict]]:
        # one partition-discovered read per snapshot dir (each dir is its own
        # partitioned-table root; a single multi-path read would try to infer
        # one partition scheme across roots and fail), unioned lazily —
        # Catalyst still prunes partition directories inside every branch.
        # With delete files, each branch is tagged with its commit sequence
        # and the caller applies the anti-join AFTER any partition filter.
        snap = self._resolve_snapshot(table, snapshot_id)
        deletes = _deletes_of(snap)
        df = None
        for rel, s in zip(snap["dirs"], _dir_seqs_of(snap)):
            b = spark.read.parquet(os.path.join(self.root, rel))
            if deletes:
                b = b.withColumn("_seq", F.lit(s))
            df = b if df is None else df.unionByName(b)
        return df, deletes

    def read_edges(self, spark: SparkSession, pred: str | None = None,
                   snapshot_id: str | None = None) -> DataFrame:
        df, deletes = self._read_layout_table(spark, "edges", snapshot_id)
        if pred is not None:
            # partition filter → directory pruning, no data read for other
            # preds (applied before the MoR anti-join: deletes only remove
            # rows, so filtering first is equivalent and keeps the pruning)
            df = df.filter(F.col("pred") == pred)
        if deletes:
            df = _apply_equality_deletes(spark, df, self.root, deletes)
        return df

    def read_nodes(self, spark: SparkSession,
                   snapshot_id: str | None = None) -> DataFrame:
        df, deletes = self._read_layout_table(spark, "nodes", snapshot_id)
        if deletes:
            df = _apply_equality_deletes(spark, df, self.root, deletes)
        return df

    # ---- named refs (tags) ----------------------------------------------

    def tag(self, table: str, name: str,
            snapshot_id: str | None = None) -> str:
        """Pin a snapshot under a name (Iceberg tag): readable via
        ``resolve_tag`` and PROTECTED from ``expire_snapshots`` — the
        audit/rollback pin ("the graph we trained v3 on"). Tags ride the
        same versioned-CAS metadata as table heads, so tagging is atomic
        and concurrent tags never clobber each other. Re-tagging an
        existing name moves it (latest commit wins). Returns the pinned
        snapshot id."""
        snap = (self.snapshot(table, snapshot_id) if snapshot_id
                else self.latest_snapshot(table))
        if snap is None:
            raise FileNotFoundError(
                f"table {table!r} has no committed snapshot")
        # tags live in the heads map under a reserved key prefix — one
        # CAS namespace, no second metadata mechanism to crash between
        self._commit(f"tag:{table}:{name}", {
            "table": f"tag:{table}:{name}", "snapshot_id":
                snap["snapshot_id"], "parent_id": None,
            "rows": snap["rows"], "rows_written": 0, "dirs": [],
            "seq": _seq_of(snap), "ts": time.time(), "mode": "tag",
        }, expected_parent=self._head().get(f"tag:{table}:{name}"))
        return snap["snapshot_id"]

    def tags(self, table: str) -> dict[str, str]:
        """{tag name: snapshot id} for a table."""
        prefix = f"tag:{table}:"
        return {k[len(prefix):]: v for k, v in self._head().items()
                if k.startswith(prefix) and v}  # dropped tags head None

    def resolve_tag(self, table: str, name: str) -> str:
        try:
            return self.tags(table)[name]
        except KeyError:
            raise KeyError(f"no tag {name!r} on table {table!r}") from None

    def drop_tag(self, table: str, name: str) -> None:
        """Remove a tag (its snapshot becomes expirable again). Dropping
        commits a tombstone so the head map stops resolving the name."""
        key = f"tag:{table}:{name}"
        current = self._head().get(key)
        if current is None:
            raise KeyError(f"no tag {name!r} on table {table!r}")
        self._commit(key, {
            "table": key, "snapshot_id": None, "parent_id": current,
            "rows": 0, "rows_written": 0, "dirs": [],
            "ts": time.time(), "mode": "drop-tag",
        }, expected_parent=current)

    def read_changes(self, spark: SparkSession, name: str,
                     from_snapshot_id: str | None,
                     to_snapshot_id: str | None = None) -> DataFrame:
        """Changelog scan (Iceberg ``create_changelog_view`` analog): the
        row-level changes committed AFTER ``from_snapshot_id`` up to and
        including ``to_snapshot_id`` (default: current head), as the
        table's columns plus ``_change_type`` ('insert' | 'delete') and
        ``_commit_seq``. ``from_snapshot_id=None`` replays the FULL
        commit history — superseded row versions and delete rows
        included, exactly as a consumer that had subscribed from table
        creation would have seen them. A consumer that wants net live
        state should either read the table, or collapse the changelog
        per key by ``_commit_seq`` (see ``plans/incremental.py``).

        This is what an incremental downstream consumer reads instead of
        re-scanning the table: appends and MoR merges surface as inserts
        from exactly the data dirs each commit in the range added,
        deletes and merge retractions as keys-only delete rows (non-key
        columns NULL, as in Iceberg's changelog for equality deletes).
        Cost is O(|changes|) — the pre-existing table is never scanned.

        The delta is computed PER COMMIT against its parent (not from
        the head's cumulative file set), so compaction commits —
        ``compact_table``/``compact_edges`` rewrites flagged
        ``props.replace`` — contribute NO changelog rows (net content
        unchanged; Iceberg's changelog skips replace commits the same
        way) and a consumer's range can cross maintenance safely, as
        long as the pre-compaction dirs haven't been expired yet (an
        expired mid-range dir fails loudly). A genuine data OVERWRITE
        in the range is rejected: it replaces the file set wholesale,
        so its row-level delta is not recoverable from manifests. A
        creation overwrite is its own delta."""
        to_snap = self._resolve_snapshot(name, to_snapshot_id)
        # one pass over the snapshot log, indexed by id — the per-step
        # self.snapshot() alternative re-parses EVERY version file per
        # ancestry hop (O(range x total-commits) metadata I/O)
        log = {r["snapshot_id"]: r for r in self.snapshots(name)}
        lineage: list[dict] = []  # commits in (from, to], oldest first
        snap: dict | None = to_snap
        while snap is not None:
            if snap["snapshot_id"] == from_snapshot_id:
                break
            lineage.append(snap)
            parent = snap.get("parent_id")
            snap = log[parent] if parent else None
        else:
            if from_snapshot_id is not None:
                raise KeyError(
                    f"{from_snapshot_id!r} is not an ancestor of "
                    f"{to_snap['snapshot_id']!r} in table {name!r}")
        lineage.reverse()
        # head schema via the LAYOUT-AWARE reader for edges/nodes: their
        # multi-dir heads are several partitioned roots, which the plain
        # multi-path read rejects (CONFLICTING_DIRECTORY_STRUCTURES)
        if name == "edges":
            head_df = self.read_edges(
                spark, snapshot_id=to_snap["snapshot_id"])
        elif name == "nodes":
            head_df = self.read_nodes(
                spark, snapshot_id=to_snap["snapshot_id"])
        else:
            head_df = self.read_table(
                spark, name, snapshot_id=to_snap["snapshot_id"])
        cols, dtypes = head_df.columns, dict(head_df.dtypes)

        def _scan(rel: str) -> DataFrame:
            path = os.path.join(self.root, rel)
            if not os.path.isdir(path):
                raise FileNotFoundError(
                    f"changelog dir {rel!r} of table {name!r} was "
                    f"expired; compact-then-expire outpaced this consumer")
            return spark.read.parquet(path)

        out = None
        parent = snap  # the range-start commit (None = table creation)
        for r in lineage:
            is_replace = bool((r.get("props") or {}).get("replace"))
            if r["mode"] == "overwrite" and r.get("parent_id") \
                    and not is_replace:
                raise ValueError(
                    f"changelog range for {name!r} crosses overwrite "
                    f"commit {r['snapshot_id']}: row-level changes "
                    f"across an overwrite are not recoverable from "
                    f"manifests")
            parent_dirs = set(parent["dirs"]) if parent else set()
            parent_dels = ({d["dir"] for d in _deletes_of(parent)}
                           if parent else set())
            parent = r
            if is_replace:
                continue  # net content unchanged — no changelog rows
            seq = F.lit(int(_seq_of(r))).cast("long")
            for rel in r["dirs"]:
                if rel in parent_dirs:
                    continue
                # conform to the head schema: a dir that predates an
                # added column reads it as typed NULL
                b = (_conform(_scan(rel), [list(p) for p in head_df.dtypes])
                     .withColumn("_change_type", F.lit("insert"))
                     .withColumn("_commit_seq", seq))
                out = b if out is None else out.unionByName(b)
            for d in _deletes_of(r):
                if d["dir"] in parent_dels:
                    continue
                b = _scan(d["dir"])
                for c in cols:
                    if c not in d["keys"]:
                        b = b.withColumn(c, F.lit(None).cast(dtypes[c]))
                b = (b.select(*cols)
                     .withColumn("_change_type", F.lit("delete"))
                     .withColumn("_commit_seq", seq))
                out = b if out is None else out.unionByName(b)
        if out is None:
            # empty range: zero-row frame with the changelog schema
            out = (head_df.filter(F.lit(False))
                   .withColumn("_change_type", F.lit("insert"))
                   .withColumn("_commit_seq", F.lit(0).cast("long")))
        return out

    # ---- maintenance ---------------------------------------------------

    def compact_edges(self, spark: SparkSession) -> str:
        """Iceberg's ``rewrite_data_files`` analog: rewrite the edge
        table's current head — which after N appends spans N snapshot
        dirs, each with its own small files — as ONE fresh snapshot dir,
        committed with the same OCC CAS as any write. Appends that land
        DURING the rewrite surface as ``CommitConflictError`` (a stale
        compaction must never clobber new data — Iceberg fails the
        rewrite the same way); the old snapshots stay time-travelable
        until ``expire_snapshots`` drops them. At scale this is the
        maintenance job that keeps read amplification flat as the
        incremental pipeline appends per-batch deltas.

        Returns the new head snapshot id (or the current one unchanged
        if the head already spans a single dir)."""
        parent = self.latest_snapshot("edges")
        if parent is None:
            raise FileNotFoundError("edges has no committed snapshot")
        if len(parent["dirs"]) == 1 and not _deletes_of(parent):
            return parent["snapshot_id"]
        return self.write_edges(
            self.read_edges(spark), mode="overwrite", props={"replace": True})

    def compact_table(self, spark: SparkSession, name: str,
                      n_tasks: int = 8) -> str:
        """Materialize a MoR table's net state as one fresh snapshot —
        the delete-file anti-joins run once here instead of on every
        read, and the delete files become expirable. Same OCC as
        ``compact_edges``: a concurrent merge/delete that lands during
        the rewrite surfaces as ``CommitConflictError``."""
        head = self.latest_snapshot(name)
        if head is None:
            raise FileNotFoundError(f"table {name!r} has no committed snapshot")
        if len(head["dirs"]) == 1 and not _deletes_of(head):
            return head["snapshot_id"]
        return self.write_table(
            name, self.read_table(spark, name,
                                  snapshot_id=head["snapshot_id"]),
            n_tasks=n_tasks, expected_parent_id=head["snapshot_id"],
            props={"replace": True})

    def expire_snapshots(self, table: str, keep_last: int = 1,
                         orphan_grace_sec: float = 3600.0) -> list[str]:
        """Drop data dirs referenced only by snapshots older than the last
        ``keep_last``, plus orphan dirs from crashed (uncommitted) writers.
        The head snapshot is always retained. Returns removed dir names.

        An unreferenced dir is treated as an orphan only when its mtime
        is older than ``orphan_grace_sec`` (Iceberg remove_orphan_files'
        ``older_than``): in-flight writers (delete_rows/_merge_mor)
        write their dirs BEFORE the commit CAS, so an age-blind expire
        racing such a writer would delete data its imminent commit
        references. Pass 0 only when no writer can be concurrent."""
        snaps = self.snapshots(table)
        head = self._head().get(table)
        keep_rows = snaps[-keep_last:] if keep_last > 0 else []
        keep_ids = {r["snapshot_id"] for r in keep_rows} | ({head} if head else set())
        keep_ids |= set(self.tags(table).values())  # tags pin snapshots
        live_dirs: set[str] = set()
        for r in snaps:
            if r["snapshot_id"] in keep_ids:
                live_dirs.update(r["dirs"])
                live_dirs.update(d["dir"] for d in _deletes_of(r))
        # Dirs referenced by ANY committed snapshot (expired or not) are
        # never in-flight; only never-committed dirs need the age gate.
        committed_dirs: set[str] = set()
        for r in snaps:
            committed_dirs.update(r["dirs"])
            committed_dirs.update(d["dir"] for d in _deletes_of(r))
        table_root = os.path.join(self.root, table)
        now = time.time()
        removed: list[str] = []
        if os.path.isdir(table_root):
            for name in sorted(os.listdir(table_root)):
                rel = os.path.join(table, name)
                if (not name.startswith(("snap-", "del-"))
                        or rel in live_dirs):
                    continue
                if rel not in committed_dirs:
                    try:
                        age = now - os.path.getmtime(
                            os.path.join(table_root, name))
                    except OSError:
                        continue  # dir vanished (concurrent expire)
                    if age < orphan_grace_sec:
                        continue  # possibly an in-flight writer's dir
                shutil.rmtree(os.path.join(table_root, name),
                              ignore_errors=True)
                removed.append(rel)
        return removed
