"""Cluster parity lane: the multi-JVM half of ``session.reuse``.

Every other test runs on the session fixture's ``local[4]``, where
``reuse`` takes its single-JVM ``localCheckpoint`` half. This lane starts
its own Spark in a subprocess (the fixture owns this process's
SparkContext) on ``local-cluster[2,1,1024]``: two executor JVMs, so
``reuse`` persists. It runs the queries that reach every reuse point
against their DuckDB twins, and ``KgDims`` + ``build_triples`` +
``materialize_graph`` against the KG oracle's graph; every dim must plan
as a ``LocalTableScan``, and the triple set ``materialize_graph`` reuses
must be cached until the caller releases it.

Run alone: ``python tests/test_cluster_lane.py`` prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"
MASTER = "local-cluster[2,1,1024]"
# the queries whose plans reach a reuse() call
QUERIES = [
    "kg_pagerank", "kg_hits", "connected_components", "pair_audit",
    "kg_struct_pairs", "kg_kcore", "kg_communities", "containment_pairs",
    "dedup_span_apply", "ngram_jaccard",
]


def _run_lane() -> dict:
    import duckdb
    from pyspark.sql import DataFrame

    import __spark_entry__ as entry_mod
    from tools.check_entry import TABLES, value_hash
    from uckg_spark.fixtures.pages import generate_pages
    from uckg_spark.oracle.kg_oracle import (
        frame_graph, oracle_graph, run_oracle)
    from uckg_spark.plans.kg_pipeline import (
        KgDims, build_triples, materialize_graph)
    from uckg_spark.session import build_session, reuse
    from uckg_spark.sources.pages import pages_df

    spark = build_session(app_name="uckg-cluster-lane", master=MASTER)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"master": spark.sparkContext.master,
                 "console_progress":
                     spark.conf.get("spark.ui.showConsoleProgress"),
                 "shuffle_partitions":
                     spark.conf.get("spark.sql.shuffle.partitions"),
                 "reuse_cached": reuse(spark.range(3)).is_cached,
                 "queries": {}}
    try:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
        qs, sqls = entry_mod.queries(), entry_mod.oracle_sql()
        for name in QUERIES:
            sdf = qs[name](spark, SF)
            srows = [tuple(r) for r in sdf.collect()]
            cur = con.execute(sqls[name])
            dcols = [d[0] for d in cur.description]
            drows = [tuple(r) for r in cur.fetchall()]
            out["queries"][name] = {
                "rows": [len(srows), len(drows)],
                "match": (sorted(sdf.columns) == sorted(dcols)
                          and value_hash(srows, sdf.columns)
                          == value_hash(drows, dcols)),
            }

        pages = generate_pages(80)
        dims = KgDims(spark)
        out["dims_local"] = all(
            d._jdf.queryExecution().executedPlan().nodeName()
            == "LocalTableScan"
            for d in vars(dims).values() if isinstance(d, DataFrame))
        triples = build_triples(spark, pages_df(spark, pages), dims)
        nodes, edges = materialize_graph(triples)
        out["triples_cached"] = triples.is_cached
        got = {tuple(r) for r in triples.collect()}
        got_edges, got_nodes = frame_graph(nodes, edges)
        triples.unpersist()
        out["triples_released"] = not triples.is_cached
        _, gold = run_oracle(pages)
        out["triples"] = {"got": len(got), "gold": len(gold),
                          "match": got == {tuple(t) for t in gold}}
        gold_edges, gold_nodes = oracle_graph(gold)
        out["graph"] = {
            "edges": [len(got_edges), len(gold_edges)],
            "nodes": [len(got_nodes), len(gold_nodes)],
            "match": (got_edges, got_nodes) == (gold_edges, gold_nodes)}
    finally:
        spark.stop()
    return out


def test_local_cluster_lane():
    env = dict(os.environ, PYTHONPATH=REPO, UCKG_DRIVER_MEM="2g")
    proc = subprocess.run([sys.executable, os.path.abspath(__file__)],
                          cwd=REPO, env=env, capture_output=True,
                          text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    res = json.loads(lines[-1])
    assert res["master"] == MASTER
    # build_session itself turns the stderr progress bars off
    assert res["console_progress"] == "false", res
    assert res["shuffle_partitions"] == "8"  # 2 workers × 1 core → 2·2, floor 8
    # the lane ran the cluster half: reuse persisted instead of checkpointing
    assert res["reuse_cached"], res
    # the dims are driver-held local relations, on a cluster too
    assert res["dims_local"], res
    bad = {n: q for n, q in res["queries"].items() if not q["match"]}
    assert sorted(res["queries"]) == sorted(QUERIES) and not bad, bad
    # materialize_graph persisted the triple set; unpersist released it
    assert res["triples_cached"] and res["triples_released"], res
    assert res["triples"]["match"], res["triples"]
    assert res["graph"]["match"], res["graph"]


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    print(json.dumps(_run_lane(), sort_keys=True))
