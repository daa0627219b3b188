"""jobs/build_kg.run: the built graph equals the oracle with and without
--resume-root, and a resumed build scans only the groups it had not
finished (I1/I5 crash-resume through the mention-scan stage)."""

import json

import pytest
from pyspark.sql import functions as F

from jobs import build_kg
from uckg_spark.lineage import LineageLog
from uckg_spark.oracle import kg_oracle
from uckg_spark.sources.catalog import GraphCatalog
from uckg_spark.sources.pages import pages_df, write_pages

N_GROUPS = 4


def _catalog_graph(spark, root):
    cat = GraphCatalog(root)
    return kg_oracle.frame_graph(cat.read_nodes(spark), cat.read_edges(spark))


@pytest.fixture(scope="module")
def oracle_graph(fixture_pages):
    return kg_oracle.oracle_graph(kg_oracle.run_oracle(fixture_pages)[1])


@pytest.fixture(scope="module")
def pages_path(spark, fixture_pages, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("build_job") / "pages")
    write_pages(pages_df(spark, fixture_pages), path)
    return path


def test_straight_build_equals_oracle(spark, kg_dims, pages_path,
                                      oracle_graph, tmp_path):
    out = str(tmp_path / "graph")
    summary = build_kg.run(spark, pages_path, out, dims=kg_dims)
    assert summary["edges"] == len(oracle_graph[0])
    assert _catalog_graph(spark, out) == oracle_graph


def test_resumed_build_scans_only_pending_groups(
        spark, kg_dims, pages_path, oracle_graph, tmp_path):
    root = str(tmp_path / "stages")
    build_kg.run(spark, pages_path, str(tmp_path / "g1"), resume_root=root,
                 n_groups=N_GROUPS, dims=kg_dims)
    assert _catalog_graph(spark, str(tmp_path / "g1")) == oracle_graph
    log = LineageLog(root)
    run1 = log.rows()
    assert sorted(r["part_group"] for r in run1) == list(range(N_GROUPS))
    assert len({r["run_id"] for r in run1}) == 1

    # simulate a crash after 2 groups: drop lineage rows for groups 2,3
    with open(log.path, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in run1 if r["part_group"] < 2)

    build_kg.run(spark, pages_path, str(tmp_path / "g2"), resume_root=root,
                 n_groups=N_GROUPS, dims=kg_dims)
    assert _catalog_graph(spark, str(tmp_path / "g2")) == oracle_graph

    kept, new = log.rows()[:2], log.rows()[2:]
    assert kept == [r for r in run1 if r["part_group"] < 2]  # run 1's run_id
    assert sorted(r["part_group"] for r in new) == [2, 3]
    assert run1[0]["run_id"] not in {r["run_id"] for r in new}
    # the resumed scan read exactly the pages hashed to the pending groups
    pending_pages = (
        spark.read.parquet(pages_path)
        .filter(F.pmod(F.xxhash64("url"), F.lit(N_GROUPS)).isin(2, 3))
        .count())
    assert 0 < pending_pages < sum(r["row_count_in"] for r in run1)
    assert sum(r["row_count_in"] for r in new) == pending_pages


def test_emission_runs_once_per_build(spark, kg_dims, fixture_pages,
                                      tmp_path):
    """The edge and node writes read one computed triple set: the node
    write runs only its own aggregation, not the emission DAG again."""
    from uckg_spark.plans.kg_pipeline import build_triples, materialize_graph

    sc = spark.sparkContext
    cat = GraphCatalog(str(tmp_path / "graph"))
    triples = build_triples(spark, pages_df(spark, fixture_pages), kg_dims)
    try:
        sc.setJobGroup("emit_once.edges", "materialize + edge write")
        nodes, edges = materialize_graph(triples)
        cat.write_edges(edges)
        sc.setJobGroup("emit_once.nodes", "node write")
        cat.write_nodes(nodes)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        triples.unpersist()
    first, node_jobs = (sc.statusTracker().getJobIdsForGroup(g)
                        for g in ("emit_once.edges", "emit_once.nodes"))
    assert first and node_jobs
    # a node write that re-runs the emission DAG takes 62 jobs here,
    # against the first group's 33; one reading the reused set takes 5
    assert len(node_jobs) < len(first) / 2, (len(node_jobs), len(first))
