"""spark-submit entrypoint: pages table → KG nodes/edges tables.

  spark-submit --py-files uckg_spark.zip jobs/build_kg.py \
      --pages /data/pages_parquet --out /data/uckg_graph \
      [--resume-root /data/uckg_stages] [--n-groups 64]

With --resume-root, the fused extract+mention scan runs through the
lineage layer (partition-group micro-batches, idempotent re-run — SURVEY.md
§2.10 I1/I5) and linking replays its durable mention stream, so a killed
run re-scans only the groups it had not finished; without it, the job
runs as one straight pipeline.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")


def run(spark, pages: str, out: str, resume_root: str | None = None,
        n_groups: int = 64, mention_partitions: int | None = None,
        dims=None) -> dict:
    from uckg_spark.plans.kg_pipeline import (
        KgDims, build_triples, linked_mentions, materialize_graph)
    from uckg_spark.sources.catalog import GraphCatalog
    from uckg_spark.sources.pages import read_pages

    pages_df = read_pages(spark, pages)
    dims = dims if dims is not None else KgDims(spark)

    t0 = time.time()
    if resume_root:
        from uckg_spark.lineage import run_stage_with_resume
        from uckg_spark.operators.mentions import scan_pages

        # the scan is the corpus-sized cost: it runs under lineage, so a
        # resumed run scans only the groups with no lineage row yet
        raw = run_stage_with_resume(
            spark, pages_df, "mentions",
            lambda p: scan_pages(spark, p, dims.alias_rows), resume_root,
            n_groups=n_groups,
        )
        m = linked_mentions(spark, None, dims, mention_partitions,
                            raw_mentions=raw)
    else:
        m = linked_mentions(spark, pages_df, dims, mention_partitions,
                            defer_barrier=True)
    triples = None
    try:
        triples = build_triples(spark, None, dims, mentions=m)
        nodes, edges = materialize_graph(triples)
        cat = GraphCatalog(out)
        edge_snap = cat.write_edges(edges)
        node_snap = cat.write_nodes(nodes)
    finally:
        if triples is not None:
            triples.unpersist()
        m.unpersist()
    return {
        "edges_snapshot": edge_snap,
        "nodes_snapshot": node_snap,
        "wall_s": round(time.time() - t0, 1),
        "edges": cat.latest_snapshot("edges")["rows"],
        "nodes": cat.latest_snapshot("nodes")["rows"],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet/Iceberg path")
    ap.add_argument("--out", required=True, help="output graph catalog root")
    ap.add_argument("--resume-root", default=None, help="lineage/stage root")
    ap.add_argument("--n-groups", type=int, default=64)
    ap.add_argument("--mention-partitions", type=int, default=None)
    args = ap.parse_args()

    from uckg_spark.session import build_session

    spark = build_session(app_name="uckg-build-kg")
    print(json.dumps(run(
        spark, args.pages, args.out, resume_root=args.resume_root,
        n_groups=args.n_groups,
        mention_partitions=args.mention_partitions)))


if __name__ == "__main__":
    main()
