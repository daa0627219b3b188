"""The KG build's job budget, pinned.

The dictionary record batches (R2, R5-R8) are bounded by the
dictionaries, so they are taken from the driver-held dims after one
collected key set, not gated by joins that re-run a shuffle of the
mention cache per gate. These tests fail if the build's job count grows
back, or if the key set or the record half starts to grow with ids the
corpus carries but the dictionaries lack."""

import time

from uckg_spark.plans.kg_pipeline import (
    _dictionary_keys, _dictionary_records, build_triples, linked_mentions,
    materialize_graph)
from uckg_spark.sources.catalog import GraphCatalog
from uckg_spark.sources.pages import pages_df

# Jobs of build_triples -> materialize_graph -> write_edges + write_nodes
# on the 80-page fixture corpus (local[4], 4 shuffle partitions): the
# scan, the key set, the emission and both writes. Gating the record
# batches with joins over the mention cache ran 57; four persisted
# per-kind mention tables behind the scan barrier ran 34.
JOB_BUDGET = 22


def _marker_job(sc, tag: str) -> int:
    """Run one tiny job and return its id: job ids are sequential, so
    the ids between two markers count every job run in between, from
    any thread and in any job group."""
    sc.setJobGroup(tag, tag)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return max(sc.statusTracker().getJobIdsForGroup(tag))


def test_build_runs_within_job_budget(spark, kg_dims, fixture_pages, tmp_path):
    sc = spark.sparkContext
    first = _marker_job(sc, "budget.start")
    n_persisted = sc._jsc.getPersistentRDDs().size()
    sc.setJobGroup("budget.build", "KG build")
    m = linked_mentions(spark, pages_df(spark, fixture_pages), kg_dims)
    triples = None
    try:
        triples = build_triples(spark, None, kg_dims, mentions=m)
        # one cache: the mention scan; the per-kind tables are views of it
        assert [k for k, df in m.items() if df.is_cached] == ["mentions"]
        assert sc._jsc.getPersistentRDDs().size() == n_persisted + 1
        nodes, edges = materialize_graph(triples)
        cat = GraphCatalog(str(tmp_path / "graph"))
        cat.write_edges(edges)
        cat.write_nodes(nodes)
    finally:
        if triples is not None:
            triples.unpersist()
        m.unpersist()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = _marker_job(sc, "budget.end") - first - 1
    assert n_jobs <= JOB_BUDGET, n_jobs
    # the scan runs on a background thread, which inherits the caller's
    # job group: every job of the build is in it
    assert len(sc.statusTracker().getJobIdsForGroup("budget.build")) == n_jobs


def test_released_mentions_leave_no_scan_running(spark, kg_dims):
    """Releasing the tables before the barrier joins the scan first: a
    build whose plan construction fails must not leave the scan running.
    The stand-in scan sleeps, so it outlives building the views."""
    def slow(batches):
        time.sleep(2)
        yield from batches

    schema = "url string, kind string, token string, canonical_id string"
    scan = spark.createDataFrame(
        [("https://fixture.test/a", "cve", "CVE-2021-0001", "CVE-2021-0001")],
        schema).mapInPandas(slow, schema)
    sc = spark.sparkContext
    m = linked_mentions(spark, None, kg_dims, raw_mentions=scan)
    m.unpersist()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job ends reach the tracker
    assert list(sc.statusTracker().getActiveJobsIds()) == []


def _record_half(spark, dims, pages):
    m = linked_mentions(spark, pages_df(spark, pages), dims)
    try:
        m.join_barrier()
        keys = _dictionary_keys(spark, dims, m["mentions"])
        return keys, _dictionary_records(spark, dims, keys).count()
    finally:
        m.unpersist()


def test_key_set_is_bounded_by_the_dictionaries(spark, kg_dims,
                                                fixture_pages):
    noise = " ".join(f"CVE-2099-{i:05d} CWE-9{i:05d}" for i in range(2000))
    page = {"url": "https://fixture.test/noise", "warc_ts": None,
            "html": f"<html><body><p>{noise}</p></body></html>".encode(),
            "text": "", "lang": "en"}
    keys, n = _record_half(spark, kg_dims, fixture_pages)
    keys_noisy, n_noisy = _record_half(spark, kg_dims,
                                       list(fixture_pages) + [page])
    assert keys_noisy == keys
    assert n_noisy == n
    assert keys["cve"] and keys["cwe"]  # the fixture corpus hits both
