"""Graph catalog (partitioned writes + manifest)."""

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


def _pred_files(root, snap):
    """Edge data files of snapshot ``snap``, by pred directory."""
    import glob
    import os

    files = glob.glob(os.path.join(
        root, "edges", f"snap-{snap}", "pred=*", "*.parquet"))
    out: dict[str, list[str]] = {}
    for f in files:
        out.setdefault(os.path.basename(os.path.dirname(f)), []).append(f)
    return out


def test_hot_pred_spreads_over_writers(spark, tmp_path):
    """A skewed predicate must NOT serialize behind one writer task: the
    edge write shuffles on (pred, subj) and AQE splits a partition past
    the advisory size, so a hot predicate lands in several files of its
    pred directory (round-1 used repartition('pred') → exactly one task
    per predicate). The advisory size is set below the predicate's
    shuffle bytes here, as a large graph would exceed the default."""
    from pyspark.sql import functions as F

    edges = spark.range(20000).select(
        F.concat(F.lit("s"), F.col("id")).alias("subj"),
        F.lit("ucohasCVE_ID").alias("pred"),  # one hot predicate
        F.concat(F.lit("o"), F.col("id")).alias("obj"),
    )
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        cat = GraphCatalog(str(tmp_path / "skewgraph"))
        snap = cat.write_edges(edges)
    finally:
        spark.conf.set(key, before)
    files = _pred_files(str(tmp_path / "skewgraph"), snap)
    assert list(files) == ["pred=ucohasCVE_ID"]
    assert len(files["pred=ucohasCVE_ID"]) > 1, files
    assert cat.latest_snapshot("edges")["rows"] == 20000


def test_small_graph_writes_one_file_per_pred(spark, tmp_path):
    """A small graph is not spread over a fixed task count: AQE coalesces
    the write's shuffle, so each pred directory holds at most one file
    (a fixed 32-way shuffle wrote one file per task per predicate)."""
    rows = [(f"s{i}", f"p{i % 7}", f"o{i}") for i in range(700)]
    edges = spark.createDataFrame(rows, "subj string, pred string, obj string")
    cat = GraphCatalog(str(tmp_path / "small"))
    snap = cat.write_edges(edges)
    files = _pred_files(str(tmp_path / "small"), snap)
    assert sorted(files) == [f"pred=p{k}" for k in range(7)]
    assert all(len(fs) == 1 for fs in files.values()), files
    assert cat.read_edges(spark).count() == 700
