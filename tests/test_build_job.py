"""jobs/build_kg.run: the built graph equals the oracle with and without
--resume-root, and a resumed build scans only the groups it had not
finished (I1/I5 crash-resume through the mention-scan stage)."""

import json

import pytest
from pyspark.sql import functions as F

from jobs import build_kg
from uckg_spark.kernel import templates as T
from uckg_spark.lineage import LineageLog
from uckg_spark.sources.catalog import GraphCatalog
from uckg_spark.sources.pages import pages_df, write_pages

N_GROUPS = 4


def _graph(edges, labels, props):
    return edges, {uri: (sorted(labels.get(uri, ())),
                         {p: sorted(v) for p, v in props.get(uri, {}).items()})
                   for uri in labels.keys() | props.keys()}


def _catalog_graph(spark, root):
    cat = GraphCatalog(root)
    nodes = cat.read_nodes(spark).collect()
    return _graph(
        {tuple(r) for r in cat.read_edges(spark).select("subj", "pred", "obj").collect()},
        {r["uri"]: r["labels"] for r in nodes if r["labels"]},
        {r["uri"]: r["props"] for r in nodes if r["props"]})


@pytest.fixture(scope="module")
def oracle_graph(fixture_pages):
    """``materialize_graph`` over the oracle's triples, in plain Python."""
    from uckg_spark.oracle.kg_oracle import run_oracle

    _, triples = run_oracle(fixture_pages)
    labels, props = {}, {}
    for t in triples:
        if t.pred == T.RDF_TYPE:
            labels.setdefault(t.subj, set()).add(t.obj)
        if t.obj_is_literal:
            props.setdefault(t.subj, {}).setdefault(t.pred, set()).add(t.obj)
    edges = {(t.subj, t.pred, t.obj) for t in triples
             if not t.obj_is_literal and t.pred != T.RDF_TYPE}
    return _graph(edges, labels, props)


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
