"""Physical-plan assertions — the scale contract, pinned.

These tests fail if a future change silently loses column pruning, filter
pushdown, broadcast join selection, or whole-stage codegen (the properties
SURVEY.md §4 relies on for the 10^12-document design point).
"""

import pytest

import __spark_entry__ as E
from uckg_spark.operators.mentions import extract_pages
from uckg_spark.plans.kg_pipeline import linked_mentions
from uckg_spark.sources.pages import read_pages, pages_df, write_pages

SF = "/root/testdata/sf0.001"


def _plan(df, run: bool = False) -> str:
    if run:
        df.collect()  # AQE finalizes plans at runtime
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages_path(spark, fixture_pages, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "pages")
    write_pages(pages_df(spark, fixture_pages), p)
    return p


def test_extraction_scan_prunes_columns(spark, pages_path):
    """The pages scan must read ONLY (url, html) — at 100 TB the html
    column is the table; reading text/lang/warc_ts too would double IO."""
    plan = _plan(extract_pages(read_pages(spark, pages_path)))
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "url" in scan and "html" in scan
    assert "warc_ts" not in scan and "lang" not in scan


def test_dictionary_join_is_broadcast(spark):
    plan = _plan(E.queries()["broadcast_lookup_join"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(E.queries()["uri_template"](spark, SF))
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "o_orderkey" in scan and "< 200" in scan  # DataFilters carry it


def test_whole_stage_codegen_active_and_partial_agg(spark):
    """The relational hot path must stay inside codegen (rendered as *(n)
    spans in the physical plan) AND aggregate map-side before the shuffle
    (partial_min/partial_count) — the property that absorbs hot-key skew."""
    df = E.queries()["dedup_exact"](spark, SF)
    plan = _plan(df, run=True)
    assert "*(1)" in plan  # WholeStageCodegen span
    assert "partial_min" in plan and "partial_count" in plan


def test_mention_link_joins_broadcast(spark, pages_path, kg_dims):
    lm = linked_mentions(spark, read_pages(spark, pages_path), kg_dims)
    try:
        for kind in ("cwe", "capec", "cpe"):
            plan = _plan(lm[kind])
            assert "BroadcastHashJoin" in plan, kind
            assert "SortMergeJoin" not in plan, kind
    finally:
        lm.unpersist()


def test_no_python_udf_in_emission(spark, pages_path, kg_dims):
    """Past the two Arrow kernel stages, the plan must be pure JVM: no
    BatchEvalPython (row-at-a-time UDF) anywhere; exactly the fused
    mapInPandas stages of the scan path."""
    from uckg_spark.plans.kg_pipeline import build_triples

    plan = _plan(build_triples(spark, read_pages(spark, pages_path), kg_dims))
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python UDF, ever
    assert "ArrowEvalPython" not in plan  # no scalar pandas UDF either
    # the ONLY Python entry point is the fused Arrow mapInPandas scan
    # (its subtree repeats in the rendered plan once per cached-consumer
    # branch, so presence — not count — is the stable assertion)
    assert "MapInPandas" in plan
