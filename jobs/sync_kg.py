"""spark-submit entrypoint: incremental KG sync from a pages catalog.

  spark-submit --py-files uckg_spark.zip jobs/sync_kg.py \
      --pages-catalog /data/pages_cat --graph /data/uckg_graph \
      [--pages-table pages] [--n-tasks 32] [--compact-after 8]

Run it per crawl drop: the pages catalog's changelog (inserts, MoR
re-crawl upserts, deletions) flows into mention-store updates and edge
delta commits; extraction cost is O(|changed pages|), the graph stays
equal to a full rebuild over the live corpus
(tests/test_incremental_sync.py pins that invariant). With
--compact-after N, the edges table and mention store are compacted once
their heads span more than N snapshot dirs (read amplification
maintenance; old snapshots stay time-travelable until expiry).
"""

from __future__ import annotations

import argparse
import json
import sys

sys.path.insert(0, ".")


def run(spark, pages_catalog: str, graph: str, pages_table: str = "pages",
        n_tasks: int = 32, compact_after: int = 0, dims=None) -> dict:
    from uckg_spark.plans.incremental import sync_kg
    from uckg_spark.plans.kg_pipeline import KgDims
    from uckg_spark.sources.catalog import GraphCatalog

    graph_cat = GraphCatalog(graph)
    summary = sync_kg(
        spark, GraphCatalog(pages_catalog), graph_cat,
        dims if dims is not None else KgDims(spark),
        pages_table=pages_table, n_tasks=n_tasks,
    )
    if compact_after > 0 and summary["status"] == "synced":
        for table, compact in (
            ("edges", lambda: graph_cat.compact_edges(spark)),
            ("mentions", lambda: graph_cat.compact_table(
                spark, "mentions", n_tasks=n_tasks)),
        ):
            head = graph_cat.latest_snapshot(table)
            # count delete files too: retraction-heavy sync sequences
            # add no data dirs, but every delete file is one more
            # anti-join on every read — exactly the amplification this
            # flag exists to bound
            frag = (len(head["dirs"]) + len(head.get("deletes") or [])
                    if head else 0)
            if head and frag > compact_after:
                compact()
                summary[f"compacted_{table}"] = True
    return summary


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages-catalog", required=True,
                    help="catalog root holding the pages table")
    ap.add_argument("--graph", required=True, help="graph catalog root")
    ap.add_argument("--pages-table", default="pages")
    ap.add_argument("--n-tasks", type=int, default=32,
                    help="max files per mention-store write and per "
                         "mention-store compaction (the edge and node "
                         "writes are sized from their data)")
    ap.add_argument("--compact-after", type=int, default=0,
                    help="compact edges/mentions when their heads span "
                         "more than this many dirs (0 = never)")
    args = ap.parse_args()

    from uckg_spark.session import build_session

    spark = build_session(app_name="uckg-sync-kg")
    print(json.dumps(run(
        spark, args.pages_catalog, args.graph,
        pages_table=args.pages_table, n_tasks=args.n_tasks,
        compact_after=args.compact_after)))


if __name__ == "__main__":
    main()
