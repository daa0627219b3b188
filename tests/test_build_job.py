"""jobs/build_kg.run: the built graph equals the oracle with and without
--resume-root; a resumed build replays the pinned mention commit only
while its input is unchanged, and a failed scan commits nothing (I1/I2
resume through the mention-scan stage)."""

import os

import pytest

from jobs import build_kg
from uckg_spark.operators import mentions
from uckg_spark.oracle import kg_oracle
from uckg_spark.sources.catalog import GraphCatalog
from uckg_spark.sources.pages import pages_df, write_pages


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


def test_resumed_build_runs_no_scan(spark, kg_dims, pages_path, oracle_graph,
                                    tmp_path, monkeypatch):
    """A second run over the same input and root replays the pinned
    mention commit: the scan never runs, and the graph is unchanged."""
    root = str(tmp_path / "stages")
    build_kg.run(spark, pages_path, str(tmp_path / "g1"), resume_root=root,
                 dims=kg_dims)
    assert _catalog_graph(spark, str(tmp_path / "g1")) == oracle_graph

    def no_scan(*_args):
        raise AssertionError("resumed run re-scanned its pages")

    monkeypatch.setattr(mentions, "scan_pages", no_scan)
    build_kg.run(spark, pages_path, str(tmp_path / "g2"), resume_root=root,
                 dims=kg_dims)
    assert _catalog_graph(spark, str(tmp_path / "g2")) == oracle_graph
    assert len(GraphCatalog(root).snapshots("mentions")) == 1


def test_new_input_rescans(spark, kg_dims, fixture_pages, oracle_graph,
                           tmp_path):
    """Pages B rewritten over pages A's path, same root: the pin no longer
    matches, so the build scans B and equals oracle(B), not oracle(A)."""
    pages_b = fixture_pages[:40]
    oracle_b = kg_oracle.oracle_graph(kg_oracle.run_oracle(pages_b)[1])
    assert oracle_b != oracle_graph
    path, root = str(tmp_path / "pages"), str(tmp_path / "stages")
    write_pages(pages_df(spark, fixture_pages), path)
    build_kg.run(spark, path, str(tmp_path / "ga"), resume_root=root,
                 dims=kg_dims)
    assert _catalog_graph(spark, str(tmp_path / "ga")) == oracle_graph

    write_pages(pages_df(spark, pages_b), path)
    build_kg.run(spark, path, str(tmp_path / "gb"), resume_root=root,
                 dims=kg_dims)
    assert _catalog_graph(spark, str(tmp_path / "gb")) == oracle_b
    assert len(GraphCatalog(root).snapshots("mentions")) == 2
    # the superseded scan's data is expired with it
    assert len(os.listdir(os.path.join(root, "mentions"))) == 1


def test_failed_scan_commits_nothing(spark, kg_dims, pages_path, oracle_graph,
                                     tmp_path, monkeypatch):
    """A scan whose tasks fail after emitting their rows commits no
    ``mentions`` snapshot; the next run scans and equals the oracle."""
    real_scan = mentions.scan_pages

    def failing_scan(spark, pages, alias_rows):
        def fail_late(batches):
            yield from batches
            raise RuntimeError("executor lost mid-scan")

        return real_scan(spark, pages, alias_rows).mapInPandas(
            fail_late, schema=mentions.MENTION_SCHEMA)

    root = str(tmp_path / "stages")
    monkeypatch.setattr(mentions, "scan_pages", failing_scan)
    with pytest.raises(Exception, match="executor lost mid-scan"):
        build_kg.run(spark, pages_path, str(tmp_path / "g1"),
                     resume_root=root, dims=kg_dims)
    assert GraphCatalog(root).latest_snapshot("mentions") is None

    monkeypatch.undo()
    build_kg.run(spark, pages_path, str(tmp_path / "g2"), resume_root=root,
                 dims=kg_dims)
    assert _catalog_graph(spark, str(tmp_path / "g2")) == oracle_graph


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
