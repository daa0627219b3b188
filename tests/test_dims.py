"""The dims are driver-held local relations: building ``KgDims`` runs no
Spark job, and each dim plans as one ``LocalTableScan``. The A3 CPE
upsert that makes this possible runs in Python on the driver; its golden
version is the ``row_number()`` window it replaced, run here in Spark."""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from uckg_spark.plans.kg_pipeline import KgDims
from uckg_spark.sources import dims


def test_dims_run_no_jobs(spark):
    sc = spark.sparkContext
    sc.setJobGroup("dims.init", "KgDims")
    try:
        built = KgDims(spark)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert list(sc.statusTracker().getJobIdsForGroup("dims.init")) == []
    frames = {k: v for k, v in vars(built).items()
              if isinstance(v, DataFrame)}
    assert len(frames) == 8, sorted(frames)
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString().strip()
        assert plan.startswith("LocalTableScan") and "\n" not in plan, (
            name, plan)
        assert "Exchange" not in plan, (name, plan)


def _cpe(name, nid, lm, vendor, product):
    return (name, nid, lm, "[]", "{}", vendor, product)


# (cpeName, cpeNameId, lastModified) cases of the A3 rule; no two rows of
# one partition tie on (lastModified, cpeNameId), where the window's pick
# would be arbitrary
ROWS = [
    # same cpeName, equal lastModified: the larger cpeNameId wins
    _cpe("cpe:a", "ID-1", "2024-01-01T00:00:00", "va", "pa"),
    _cpe("cpe:a", "ID-2", "2024-01-01T00:00:00", "va", "pa"),
    # a null lastModified ranks below any value, whatever its id
    _cpe("cpe:b", "ID-9", None, "vb", "pb"),
    _cpe("cpe:b", "ID-0", "2023-06-01T00:00:00", "vb", "pb"),
    # a null cpeNameId ranks below any id at equal lastModified
    _cpe("cpe:c", None, "2024-05-05T00:00:00", "vc", "pc"),
    _cpe("cpe:c", "ID-3", "2024-05-05T00:00:00", "vc", "pc"),
    # both null, alone in its partition
    _cpe("cpe:d", None, None, "vd", "pd"),
    # two cpeNames share one vendor:product
    _cpe("cpe:e:1.0", "ID-4", "2024-03-01T00:00:00", "ve", "pe"),
    _cpe("cpe:e:2.0", "ID-5", "2024-02-01T00:00:00", "ve", "pe"),
    _cpe("cpe:e:2.0", "ID-6", "2024-04-01T00:00:00", "ve", "pe"),
    # code point order: U+E000 < U+1F600 (UTF-16 order is the reverse)
    _cpe("cpe:f", "ID-7", "2024-01-01\ue000", "vf", "pf"),
    _cpe("cpe:f", "ID-8", "2024-01-01\U0001f600", "vf", "pf"),
]


def _window_latest(spark, rows, key_cols):
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("lastModified").desc(), F.col("cpeNameId").desc())
    return {
        tuple(r) for r in
        spark.createDataFrame(rows, dims.CPE_SCHEMA)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1).drop("_rn").collect()
    }


def test_latest_rows_matches_row_number_window(spark):
    by_name = dims.latest_rows(ROWS, ("cpeName",))
    assert set(by_name) == _window_latest(spark, ROWS, ["cpeName"])
    assert {r[1] for r in by_name} == {
        "ID-2", "ID-0", "ID-3", None, "ID-4", "ID-6", "ID-8"}
    # the vendor:product pick runs over the upserted rows, as in the dims
    by_vp = dims.latest_rows(by_name, ("vendor", "product"))
    assert set(by_vp) == _window_latest(
        spark, by_name, ["vendor", "product"])
    assert {r[1] for r in by_vp} == {"ID-2", "ID-0", "ID-3", None,
                                     "ID-6", "ID-8"}
    assert len(by_vp) == len(set(by_vp))
