"""Incremental KG maintenance from the pages table's changelog.

The reference re-runs its whole collect→map→load chain per source drop
(/root/reference/entry.py — each sync re-reads the SQLite
stores and re-emits everything); the graft's delta path (I3/A5) triggers
on counts. This module closes the loop at row granularity: the KG is
kept equal to ``build_triples(live pages)`` while paying extraction only
for CHANGED pages.

The split that makes it scale:

- **Extraction is incremental.** The fused HTML→mention Arrow scan
  (``scan_pages``) is the corpus-sized cost — at 100 TB it IS the
  pipeline. It runs only over pages inserted/updated since the last
  sync (the pages catalog's ``read_changes``), and its product is
  persisted in a catalog table ``mentions`` maintained by url:
  equality-delete the touched urls, append the fresh scan —
  O(|changed pages|) per sync.
- **Linking + emission recompute from the mention store.** Mentions are
  ~1000× smaller than pages (measured in kg_pipeline); re-linking the
  store and re-emitting triples from it is
  mention/dictionary-bounded, not corpus-bounded. This sidesteps the
  provenance problem that sinks triple-level reference counting: record
  triples (R2/R5/...) are supported by EVERY page mentioning the id, so
  per-page triple attribution is a fan-out, while per-page MENTION
  attribution is exact and already url-keyed.
- **The graph tables move by delta.** New edge set vs current head:
  additions append, disappearances retract via merge-on-read equality
  deletes — the edges table's snapshot log stays an honest history
  (time travel sees every sync), and a 0-row delta costs two empty
  commits, not a rewrite. Nodes (labels/props aggregates over the full
  triple set) are overwritten — they are entity-count-sized.

Idempotency/resume: the synced pages snapshot id rides in a 1-row
``sync_state`` table (itself snapshot-versioned); a re-run after a crash
between commits re-reads the same changelog range and re-applies — every
step is either an idempotent set operation or an empty delta the second
time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.mentions import scan_pages
from ..sources.catalog import GraphCatalog
from .kg_pipeline import KgDims, build_triples, linked_mentions, materialize_graph

_EDGE_KEY = ["subj", "pred", "obj"]


def last_synced(graph_cat: GraphCatalog) -> str | None:
    """Pages snapshot id the graph was last synced to, or None."""
    snap = graph_cat.latest_snapshot("sync_state")
    if snap is None:
        return None
    return (snap.get("props") or {}).get("pages_snapshot_id")


def sync_kg(
    spark: SparkSession,
    pages_cat: GraphCatalog,
    graph_cat: GraphCatalog,
    dims: KgDims,
    pages_table: str = "pages",
    n_tasks: int = 8,
) -> dict:
    """One incremental sync: pages-changelog → mention store → edge
    delta. Returns a summary dict; ``status`` is ``up_to_date`` when the
    pages head hasn't moved since the last sync (nothing is written).

    ``n_tasks`` caps the files of each mention-store write; the edge and
    node writes size their shuffles from the data (``write_edges``)."""
    head = pages_cat.latest_snapshot(pages_table)
    if head is None:
        raise FileNotFoundError(
            f"pages table {pages_table!r} has no committed snapshot")
    synced = last_synced(graph_cat)
    if synced == head["snapshot_id"]:
        return {"status": "up_to_date",
                "pages_snapshot_id": head["snapshot_id"]}

    changes = pages_cat.read_changes(
        spark, pages_table, synced, head["snapshot_id"])
    touched = changes.select("url").distinct().persist()
    # COLLAPSE the changelog to net-per-url state before scanning: a
    # range can touch the same url in several commits (re-crawled twice
    # between syncs, insert-then-delete, or a first sync over a pages
    # catalog with history — read_changes replays every version). The
    # latest _commit_seq wins per url; within one commit an insert
    # outranks the delete from the same MoR merge (its own rows survive
    # its own delete file); a url whose winning row is a delete is dead.
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy(
        F.col("_commit_seq").desc(),
        (F.col("_change_type") == "insert").cast("int").desc())
    inserted = (changes
                .withColumn("_rn", F.row_number().over(w))
                .filter((F.col("_rn") == 1)
                        & (F.col("_change_type") == "insert"))
                .select("url", "html"))

    # -- mention store: delete touched urls, append the fresh scan -----
    fresh = scan_pages(spark, inserted, dims.alias_rows)
    have_store = graph_cat.latest_snapshot("mentions") is not None
    if have_store:
        graph_cat.delete_rows("mentions", touched, ["url"])
        graph_cat.write_table("mentions", fresh, n_tasks=n_tasks,
                              mode="append")
    else:
        graph_cat.write_table("mentions", fresh, n_tasks=n_tasks)
    n_touched = touched.count()
    touched.unpersist()

    # -- re-link + re-emit from the store (mention-sized, not corpus) --
    store = graph_cat.read_table(spark, "mentions")
    m = linked_mentions(spark, None, dims, raw_mentions=store)
    # build_triples joins the scan barrier; materialize_graph reuses the
    # triple set: the edge delta's actions and the nodes rebuild read it
    # once computed; released below
    triples = build_triples(spark, None, dims, mentions=m)
    nodes, edges = materialize_graph(triples)

    # -- edge delta: append additions, MoR-retract disappearances ------
    try:
        current = graph_cat.read_edges(spark).persist()
    except FileNotFoundError:
        current = None
    if current is None:
        n_add, n_rm = edges.count(), 0
        graph_cat.write_edges(edges)
    else:
        adds = edges.join(current, _EDGE_KEY, "left_anti").persist()
        removes = current.join(edges, _EDGE_KEY, "left_anti").persist()
        n_add, n_rm = adds.count(), removes.count()
        if n_rm:
            graph_cat.delete_rows("edges", removes, _EDGE_KEY)
        if n_add:
            graph_cat.write_edges(adds, mode="append")
        for df in (adds, removes, current):
            df.unpersist()

    graph_cat.write_nodes(nodes)

    triples.unpersist()
    m.unpersist()

    # -- record the synced pages snapshot (1-row versioned state) ------
    graph_cat.write_table(
        "sync_state",
        spark.createDataFrame(
            [(head["snapshot_id"],)], "pages_snapshot_id string"),
        n_tasks=1,
        props={"pages_snapshot_id": head["snapshot_id"]})
    return {
        "status": "synced",
        "pages_snapshot_id": head["snapshot_id"],
        "changed_urls": n_touched,
        "edges_added": n_add,
        "edges_retracted": n_rm,
    }
