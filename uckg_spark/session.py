"""SparkSession factory tuned for the KG-construction workload.

Defaults are written for the sandbox (local[N], single JVM) but every knob is
chosen for how it behaves on a 1000-executor cluster at 10^12-document scale:

- AQE on, including skew-join splitting: hot entities (popular CVEs, major
  vendors — see FIXTURES.md skew spec) concentrate mentions on a few keys;
  AQE splits oversized post-shuffle partitions at runtime.
- ``spark.sql.shuffle.partitions`` defaults to 2× cores locally; on a real
  cluster AQE coalesces from a deliberately high initial number, so we also
  set ``adaptive.coalescePartitions.initialPartitionNum``.
- Arrow enabled and batch-size bounded: the extraction / mention stages are
  ``mapInPandas`` kernels; 10k-row Arrow batches keep per-batch memory flat
  regardless of total scale (the reference's 2000-row REST pages play the
  same role, /root/reference/data_collection/cve_collection.py:342).
- Broadcast threshold raised to 64 MB: the linking dictionaries (~1.3M CPE
  names, ~1k CWEs, ~600 techniques — SURVEY.md §4) are a few hundred MB at
  most in full production form and are explicitly broadcast() anyway; the
  threshold covers the derived alias/posting tables.

Reuse policy: frames that feed several consumers (the KG triple set,
graph-loop frames, shingle sets) go through :func:`reuse`, the one place that chooses
between ``localCheckpoint`` and ``persist``. A ``localCheckpoint`` block
lives only on its executor and its lineage is cut, so it is safe only when
the driver and executors share one JVM (``local``, ``local[N]``); under any
other master, ``local-cluster[...]`` included, the frame is persisted so a
lost executor's blocks can be replayed from lineage.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession


def build_session(
    app_name: str = "uckg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("UCKG_SPARK_MASTER", "local[*]")
    cores = _master_cores(master)
    shuffle = shuffle_partitions or max(2 * cores, 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(shuffle * 4, 64)),
        )
        # parallelismFirst (the Spark default) floors AQE coalescing at the
        # cluster's parallelism rather than the 64 MB advisory size alone.
        # With parallelismFirst=false a ~100 MB mention-scale shuffle
        # coalesces to 1-2 partitions and the co-mention joins run nearly
        # single-threaded — measured +80-110 s on the 720k-page corpus at
        # local[8] (a data-proportional SERIAL term that caps strong
        # scaling at any cluster size). Micro-task dispatch overhead for
        # tiny shuffles stays bounded by minPartitionSize (1 MB default).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("UCKG_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # no progress bars in the stderr of CLI runs, tests and benchmarks
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # PySpark 4's DataFrame-debugging origin capture adds 2+ Py4J
        # round-trips to EVERY Column/DataFrame API call (call-site info
        # for error messages). The emission DAG makes ~21k API calls per
        # build_triples; profiling showed 5.7 s of a 7.6 s plan
        # construction in py4j socket reads, halved by this flag. Errors
        # still raise with full JVM context — only the Python call-site
        # annotation is lost, which a production engine trades away.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def reuse(df: DataFrame) -> DataFrame:
    """Mark ``df`` for reuse by several consumers; lazy either way.

    Single-JVM local mode: a non-eager ``localCheckpoint``, which cuts the
    lineage and rides the first consumer's job with no materialization
    barrier. Any other master: ``persist()``, because a checkpointed block
    dies with its executor and cannot be recomputed (module docstring)."""
    master = df.sparkSession.sparkContext.master
    if master == "local" or master.startswith("local["):
        return df.localCheckpoint(eager=False)
    return df.persist()


def _master_cores(master: str) -> int:
    if master == "local":
        return 1
    if m := re.fullmatch(r"local\[(\*|\d+)(?:,\d+)?\]", master):
        return (os.cpu_count() or 8) if m[1] == "*" else int(m[1])
    # local-cluster[workers, cores per worker, MB per worker]
    if m := re.fullmatch(r"local-cluster\[(\d+),(\d+),\d+\]", master):
        return int(m[1]) * int(m[2])
    return 32
