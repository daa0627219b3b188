"""jobs/export_graph.py end-to-end: build a small KG into the snapshot
catalog, export it to N-Triples text, read the text back with
from_ntriples, and require the parsed set to equal the catalog's triple
view exactly — including a time-traveled export of the PREVIOUS
snapshot after the graph is rebuilt."""

import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from jobs.export_graph import run, triple_view  # noqa: E402


def _build_graph(spark, fixture_pages, kg_dims, out, n_pages):
    from uckg_spark.plans.kg_pipeline import build_triples, materialize_graph
    from uckg_spark.sources.catalog import GraphCatalog
    from uckg_spark.sources.pages import pages_df

    triples = build_triples(
        spark, pages_df(spark, fixture_pages[:n_pages]), kg_dims)
    nodes, edges = materialize_graph(triples)
    cat = GraphCatalog(out)
    return cat.write_edges(edges), cat.write_nodes(nodes)


def _collect_view(spark, out, **snaps):
    return sorted(
        map(tuple, triple_view(spark, out, **snaps).collect()))


def test_export_roundtrip_and_time_travel(
        spark, fixture_pages, kg_dims, tmp_path):
    from uckg_spark.sources.rdfio import from_ntriples

    graph = str(tmp_path / "graph")
    e1, n1 = _build_graph(spark, fixture_pages, kg_dims, graph, 30)

    nt1 = str(tmp_path / "nt1")
    summary = run(spark, graph, nt1, partitions=3)
    view1 = _collect_view(spark, graph)
    assert summary["triples"] == len(view1) > 0

    parsed = from_ntriples(
        spark.read.text(nt1).withColumnRenamed("value", "line"))
    assert sorted(map(tuple, parsed.collect())) == view1

    # rebuild with a bigger corpus, then time-travel-export snapshot 1
    _build_graph(spark, fixture_pages, kg_dims, graph, 60)
    view2 = _collect_view(spark, graph)
    assert len(view2) > len(view1)

    nt_old = str(tmp_path / "nt_old")
    run(spark, graph, nt_old, edges_snapshot_id=e1, nodes_snapshot_id=n1)
    parsed_old = from_ntriples(
        spark.read.text(nt_old).withColumnRenamed("value", "line"))
    assert sorted(map(tuple, parsed_old.collect())) == view1


def test_streaming_ntriples_ingest(spark, fixture_pages, kg_dims, tmp_path):
    """from_ntriples is a pure row map, so it runs unchanged under
    Structured Streaming: readStream.text over the exported dump,
    parse per micro-batch, land in a second catalog via foreachBatch —
    the export/import loop closed as an incremental ingest. Small
    maxFilesPerTrigger forces multiple micro-batches so the result is
    provably batch-slicing-independent."""
    from uckg_spark.sources.catalog import GraphCatalog
    from uckg_spark.sources.rdfio import from_ntriples

    graph = str(tmp_path / "graph")
    _build_graph(spark, fixture_pages, kg_dims, graph, 30)
    nt = str(tmp_path / "nt")
    run(spark, graph, nt, partitions=6)  # several files → several batches

    dst = GraphCatalog(str(tmp_path / "graph2"))
    parsed = from_ntriples(
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 2).load(nt)
        .withColumnRenamed("value", "line"))

    def land(batch_df, _epoch):
        dst.write_edges(
            batch_df.filter(~F.col("obj_is_literal"))
            .select("subj", "pred", "obj"), mode="append")

    (parsed.writeStream.foreachBatch(land)
     .option("checkpointLocation", str(tmp_path / "ckpt"))
     .trigger(availableNow=True).start().awaitTermination())

    # read_edges yields (subj, obj, pred) — partitionBy puts pred last
    got = sorted(map(tuple, dst.read_edges(spark)
                     .select("subj", "pred", "obj").collect()))
    want = sorted(
        (s, p, o) for s, p, o, lit, _dt in _collect_view(spark, graph)
        if not lit)
    assert got == want and len(got) > 0


def test_triple_view_branch_shapes(spark, fixture_pages, kg_dims, tmp_path):
    """All three reconstruction branches are populated: URI-object
    edges, rdf:type triples from labels, literal triples from props."""
    from uckg_spark.kernel import templates as T

    graph = str(tmp_path / "graph")
    _build_graph(spark, fixture_pages, kg_dims, graph, 30)
    v = triple_view(spark, graph).persist()
    try:
        assert v.filter(F.col("pred") == T.RDF_TYPE).count() > 0
        assert v.filter(
            ~F.col("obj_is_literal") & (F.col("pred") != T.RDF_TYPE)
        ).count() > 0
        assert v.filter(F.col("obj_is_literal")).count() > 0
        # NULL-free: datatype is the '' sentinel throughout
        assert v.filter(F.col("obj_datatype").isNull()).count() == 0
    finally:
        v.unpersist()
