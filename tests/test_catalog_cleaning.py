"""Graph catalog (partitioned writes + manifest) and the A5/I3 count-delta
trigger."""

from uckg_spark.lineage import LineageLog, needs_sync
from uckg_spark.sources.catalog import GraphCatalog


def test_graph_catalog_roundtrip(spark, fixture_pages, kg_dims, tmp_path):
    from uckg_spark.plans.kg_pipeline import build_triples, materialize_graph
    from uckg_spark.sources.pages import pages_df

    triples = build_triples(
        spark, pages_df(spark, fixture_pages[:30]), kg_dims).persist()
    try:
        nodes, edges = materialize_graph(triples)
        cat = GraphCatalog(str(tmp_path / "graph"))
        s1 = cat.write_edges(edges)
        s2 = cat.write_nodes(nodes)
        assert cat.latest_snapshot("edges")["snapshot_id"] == s1
        assert cat.latest_snapshot("nodes")["snapshot_id"] == s2
        # predicate-sliced read returns exactly that predicate's edges
        from uckg_spark.kernel import templates as T

        got = cat.read_edges(spark, T.P_HAS_CVE_ID)
        want = edges.filter(edges.pred == T.P_HAS_CVE_ID)
        assert got.count() == want.count()
        assert {r["subj"] for r in got.collect()} == {r["subj"] for r in want.collect()}
        assert cat.read_nodes(spark).count() == nodes.count()
    finally:
        # session-scoped spark fixture: leaked cache blocks accumulate
        # across the whole suite otherwise
        triples.unpersist()


def test_multivalued_props_survive(spark, fixture_pages, kg_dims):
    """Multi-valued literals (e.g. multi-language ucosummary) must all land
    in the node props array — round 1 collapsed them to min(obj)."""
    from pyspark.sql import functions as F

    from uckg_spark.kernel import templates as T
    from uckg_spark.plans.kg_pipeline import build_triples, materialize_graph
    from uckg_spark.sources.pages import pages_df

    triples = build_triples(spark, pages_df(spark, fixture_pages), kg_dims).persist()
    try:
        multi = (
            triples.filter(F.col("obj_is_literal") & (F.col("pred") == T.P_SUMMARY))
            .groupBy("subj").agg(F.countDistinct("obj").alias("n"))
            .filter(F.col("n") > 1)
            .orderBy("subj").limit(1).collect()
        )
        assert multi, "fixture corpus must contain a multi-summary subject"
        subj, n_vals = multi[0]["subj"], multi[0]["n"]
        nodes, _ = materialize_graph(triples)
        props = nodes.filter(F.col("uri") == subj).collect()[0]["props"]
        assert len(props[T.P_SUMMARY]) == n_vals
        assert props[T.P_SUMMARY] == sorted(props[T.P_SUMMARY])
    finally:
        triples.unpersist()


def test_hot_pred_spreads_over_writers(spark, tmp_path):
    """A skewed predicate must NOT serialize behind one writer task:
    repartition(n, pred, subj) spreads it over many tasks, each writing
    its own file into the pred directory (round-1 used repartition('pred')
    → exactly one task per predicate)."""
    import glob

    from pyspark.sql import functions as F

    edges = spark.range(20000).select(
        F.concat(F.lit("s"), F.col("id")).alias("subj"),
        F.lit("ucohasCVE_ID").alias("pred"),  # one hot predicate
        F.concat(F.lit("o"), F.col("id")).alias("obj"),
    )
    cat = GraphCatalog(str(tmp_path / "skewgraph"))
    snap = cat.write_edges(edges, n_tasks=8)
    files = glob.glob(str(
        tmp_path / f"skewgraph/edges/snap-{snap}/pred=ucohasCVE_ID/*.parquet"))
    assert len(files) > 1, files
    assert cat.latest_snapshot("edges")["rows"] == 20000


def test_needs_sync(tmp_path):
    log = LineageLog(str(tmp_path))
    log.append({"run_id": "r", "stage": "extract", "part_group": 0,
                "input_snapshot_id": "s", "row_count_in": 100,
                "row_count_out": 100, "content_sha256": "x" * 64,
                "wall_ms": 1, "ts": 0.0})
    assert not needs_sync(log, "extract", 100)
    assert needs_sync(log, "extract", 150)  # source moved ahead → re-run
    assert needs_sync(log, "other_stage", 1)
    # a snapshot-advance re-run APPENDS a second row for the same group;
    # only the latest row may count (summing both would claim 100+120=220
    # ingested and miss a real delta at 150 < 220)
    log.append({"run_id": "r2", "stage": "extract", "part_group": 0,
                "input_snapshot_id": "s2", "row_count_in": 120,
                "row_count_out": 120, "content_sha256": "y" * 64,
                "wall_ms": 1, "ts": 1.0})
    assert not needs_sync(log, "extract", 120)
    assert needs_sync(log, "extract", 150)
    # snapshot-pinned: the group's latest row is from s2, so under s2 the
    # trigger sees 120 ingested; under a NEWER snapshot s3 nothing counts
    assert not needs_sync(log, "extract", 120, input_snapshot_id="s2")
    assert needs_sync(log, "extract", 1, input_snapshot_id="s3")
