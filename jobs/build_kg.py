"""spark-submit entrypoint: pages table → KG nodes/edges tables.

  spark-submit --py-files uckg_spark.zip jobs/build_kg.py \
      --pages /data/pages_parquet --out /data/uckg_graph \
      [--resume-root /data/uckg_stages]

With --resume-root, the fused extract+mention scan is committed to the
``mentions`` table of a catalog at that root (the schema of ``sync_kg``'s
mention store), pinned to a fingerprint of what the scan read: the pages
files and the alias dictionary. A re-run whose pin matches the head
replays the stored scan and runs no scan; any other run rescans and
commits afresh. The commit is atomic, so a run killed mid-scan leaves an
orphan dir and no snapshot, and the next run scans everything again.
Without --resume-root the job runs as one straight pipeline.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
from urllib.parse import unquote, urlparse

sys.path.insert(0, ".")


def scan_pin(pages_df, alias_rows: list[dict]) -> str | None:
    """sha256 over the sorted ``(path, size, mtime_ns)`` of every pages
    input file plus the alias dictionary — the inputs of ``scan_pages``.
    None when the driver cannot ``os.stat`` an input file (a non-local
    filesystem, a file gone since listing): no pin, so the scan reruns."""
    h = hashlib.sha256()
    for uri in sorted(pages_df.inputFiles()):
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        try:
            st = os.stat(unquote(parsed.path))
        except OSError:
            return None
        h.update(f"{uri}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    h.update(json.dumps(alias_rows, sort_keys=True).encode())
    return h.hexdigest()


def run(spark, pages: str, out: str, resume_root: str | None = None,
        dims=None) -> dict:
    from uckg_spark.plans.kg_pipeline import (
        KgDims, build_triples, linked_mentions, materialize_graph)
    from uckg_spark.sources.catalog import GraphCatalog
    from uckg_spark.sources.pages import read_pages

    pages_df = read_pages(spark, pages)
    dims = dims if dims is not None else KgDims(spark)

    t0 = time.time()
    if resume_root:
        from uckg_spark.operators.mentions import scan_pages

        stages = GraphCatalog(resume_root)
        pin = scan_pin(pages_df, dims.alias_rows)
        head = stages.latest_snapshot("mentions")
        if pin and head and (head.get("props") or {}).get("scan_pin") == pin:
            snap = head["snapshot_id"]
        else:
            # n_tasks = the scan's own partition count: write_table's
            # coalesce must not narrow the corpus-sized scan
            snap = stages.write_table(
                "mentions", scan_pages(spark, pages_df, dims.alias_rows),
                n_tasks=pages_df.rdd.getNumPartitions(),
                props={"scan_pin": pin} if pin else None)
            # the superseded scan is never replayed: drop its dir (and
            # any crashed scan's orphan past the grace age)
            stages.expire_snapshots("mentions")
        m = linked_mentions(
            spark, None, dims,
            raw_mentions=stages.read_table(spark, "mentions",
                                           snapshot_id=snap))
    else:
        m = linked_mentions(spark, pages_df, dims)
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
    ap.add_argument("--resume-root", default=None,
                    help="catalog root holding the pinned mention scan")
    args = ap.parse_args()

    from uckg_spark.session import build_session

    spark = build_session(app_name="uckg-build-kg")
    print(json.dumps(run(
        spark, args.pages, args.out, resume_root=args.resume_root)))


if __name__ == "__main__":
    main()
