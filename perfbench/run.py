"""uckg_spark benchmark: one workload, one seed, one JSON line.

  python3 perfbench/run.py --workload build_large_pages --seed 1 \
      --seconds 10 --trace 0

Run from the root of a checkout. The program is started from source in
this process at ``local[<cores>]``. Ops run back to back until their
summed wall reaches ``--seconds`` (at least one op), then every op's output
is checked against its reference. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics from spans,
the Spark event log and captured ERROR lines; a traced
``build_large_pages`` run also syncs one crawl drop after its ops
(``perfbench/sync.py``) and runs the kernel and Arrow probes. Scratch data
lives under ``.perfbench/`` in the checkout and is removed at exit;
references that do not depend on the seed are kept in
``.perfbench/cache/``, and traced runs leave their span/job report in
``.perfbench/reports/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("build_large_pages", "operator_queries")


def _workload(name: str):
    """The module whose ``Workload`` class holds the workload's hooks:
    ``prepare_local`` (before Spark starts), ``prepare_spark``, ``op`` and
    ``check``."""
    from perfbench import kg, queries

    return {"build_large_pages": kg, "operator_queries": queries}[name]


def _env(work: str) -> None:
    """Keep Spark's, the JVM's and Python's scratch files in ``work`` and
    let Python workers import the program from the checkout."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JDK_JAVA_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JDK_JAVA_OPTIONS"),
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"))))
    import tempfile

    tempfile.tempdir = None


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so
    that a process orphaned by its parent (Python workers whose JVM has
    exited, a helper of the sync base's build process) is re-parented here
    and ``_reap_children`` waits for it."""
    import ctypes

    ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _children() -> list[int]:
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if int(stat[stat.rfind(")") + 2:].split()[1]) == me:
                out.append(int(entry))
    return out


def _reap_children(timeout_s: float = 60.0) -> None:
    """Wait until every child of this process has ended; a child still
    alive after ``timeout_s`` is killed. Stops multiprocessing's resource
    tracker first, which would otherwise live until this process exits."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + timeout_s
    while True:
        kids = _children()
        if not kids:
            return
        for pid in kids:
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.05)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 work: str):
        from perfbench.trace import Tracer

        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work, self.root = trace, work, ROOT
        self.tracer = Tracer(trace)
        self.cores = os.cpu_count() or 1
        self.w = _workload(workload).Workload(self)
        self.op_walls: list[float] = []
        self.records: list[object] = []
        self.failed = 0
        self.probe_ops = 0  # checked program runs outside the window

    # -- the run -----------------------------------------------------------

    def execute(self) -> dict:
        from perfbench.trace import RssSampler, StderrCapture, read_event_log

        span = self.tracer.span
        self.w.prepare_local()
        capture = (StderrCapture(os.path.join(self.work, "stderr.log"))
                   if self.trace else None)
        events = os.path.join(self.work, "events")
        conf = {}
        if self.trace:
            os.makedirs(events)
            conf = {"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + events,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false"}
        rss = RssSampler() if self.trace else None
        if rss is not None:
            rss.start()
        from uckg_spark.session import build_session

        t0 = time.perf_counter()
        with span("session.start"):
            spark = build_session(app_name=f"perfbench-{self.workload}",
                                  master=f"local[{self.cores}]",
                                  extra_conf=conf)
        self.setup_s = time.perf_counter() - t0
        try:
            if self.w.kg:
                # per-job initialisation that every KG job pays, once, cold
                from uckg_spark.plans.kg_pipeline import KgDims

                t0 = time.perf_counter()
                with span("dims.init"):
                    self.dims = KgDims(spark)
                self.setup_s += time.perf_counter() - t0
            self.w.prepare_spark(spark)
            if self.trace and self.w.kg:
                from perfbench import kg

                kg.trace_layers(self.tracer)
            self.window(spark)
            if rss is not None:
                self.peak_rss_mb = rss.stop()
            with span("check"):
                self.check_all(spark)
            if self.trace:
                self.probes(spark)
        finally:
            self.tracer.unwrap()
            _stop_spark(spark)
            if capture is not None:
                capture.close()
        if not self.trace:
            metrics = {
                "setup_s": (self.setup_s, "s"),
                "op_s": (statistics.median(self.op_walls), "s"),
            }
        else:
            jobs, stages = read_event_log(events)
            metrics = self.layers(jobs, stages, capture.errors)
        attempted = len(self.op_walls) + self.probe_ops
        return {
            "correct": self.failed == 0,
            "attempted": attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }

    def window(self, spark) -> None:
        """Ops back to back until their summed wall reaches ``seconds``."""
        while not self.op_walls or sum(self.op_walls) < self.seconds:
            k = len(self.op_walls)
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op"):
                    record = self.w.op(spark, k)
            except Exception as e:  # a failed op is counted, not fatal
                print(f"op {k} raised {type(e).__name__}: {e}",
                      file=sys.stderr)
                record = None
                self.failed += 1
            self.op_walls.append(time.perf_counter() - t0)
            self.records.append(record)
            with self.tracer.span("between"):
                spark.catalog.clearCache()

    def check_all(self, spark) -> None:
        for k, bad in sorted(self.w.check(spark, self.records).items()):
            if bad:
                print(f"op {k} failed its output check: {bad}",
                      file=sys.stderr)
                self.failed += 1

    def probes(self, spark) -> None:
        from perfbench import kg

        sync = getattr(self.w, "sync", None)
        if sync is not None:
            self.probe_ops += 1
            try:
                bad = sync.drop(spark)
            except Exception as e:
                bad = [f"raised {type(e).__name__}: {e}"]
            if bad:
                print(f"the sync probe failed its check: {bad}",
                      file=sys.stderr)
                self.failed += 1
        with self.tracer.span("probe.kernel"):
            self.probe = kg.kernel_probe(self.seed)
        with self.tracer.span("probe.arrow"):
            self.probe["arrow.identity_s"] = kg.arrow_probe(
                spark, self.seed, os.path.join(self.work, "probe.parquet"))

    # -- per-layer metrics from spans and the event log --------------------

    def layers(self, jobs, stages, errors) -> dict:
        from perfbench.kg import CATALOG_CALLS
        from perfbench.queries import QUERIES
        from perfbench.trace import ran_python

        tr = self.tracer
        spans = tr.spans
        first_job: dict[int, object] = {}
        for j in jobs:
            j.span = tr.innermost(j.submit)
            for sid in j.stages:
                first_job.setdefault(sid, j)
        op_ids = [i for i, s in enumerate(spans) if s.name == "op"]

        def own_stages(j):
            return [stages[s] for s in j.stages
                    if first_job[s] is j and s in stages and stages[s].tasks]

        def top(name: str, root: str = "op") -> list[int]:
            """Spans ``name`` inside a ``root`` span and outside every
            catalog call (a catalog call made by another one counts in the
            outer)."""
            roots = [i for i, s in enumerate(spans) if s.name == root]
            out = []
            for i, s in enumerate(spans):
                if s.name != name or not any(tr.within(r, i)
                                             for r in roots):
                    continue
                p = s.parent
                while p is not None and not spans[p].name.startswith(
                        "catalog."):
                    p = spans[p].parent
                if p is None:
                    out.append(i)
            return out

        def under(names: tuple[str, ...]):
            roots = [i for n in names for i in top(n)]
            return [j for j in jobs if j.span is not None
                    and any(tr.within(r, j.span) for r in roots)]

        def total(js, field) -> float:
            return sum(getattr(st, field) for j in js for st in own_stages(j))

        def wall(name: str, root: str = "op") -> float:
            return sum(spans[i].end - spans[i].start
                       for i in top(name, root))

        n_ops = len(self.op_walls)
        op_wall = sum(self.op_walls)
        op_jobs = under(("op",))
        op_self = [tr.self_times(i) for i in op_ids]
        m: dict[str, tuple[float, str]] = {}

        # setup: one session start and, on the KG workloads, one KgDims
        dims = [i for i, s in enumerate(spans) if s.name == "dims.init"]
        m["session.start_s"] = (
            sum(s.end - s.start for s in spans if s.name == "session.start"),
            "s")
        m["dims.init_s"] = (sum(spans[i].end - spans[i].start for i in dims),
                            "s")
        m["dims.jobs"] = (len([j for j in jobs if j.span in dims]), "count")

        # mention scan: the Python stages of the build's jobs
        scan_jobs = [j for j in under(("build.build_triples",))
                     if any(ran_python(st) for st in own_stages(j))]
        scan = [st for j in scan_jobs for st in own_stages(j)
                if ran_python(st)]
        m["mentions.scan_s"] = (_union_s([(j.submit, j.end)
                                          for j in scan_jobs]) / n_ops, "s")
        m["mentions.cpu_s"] = (sum(s.cpu_s + s.py_run_s for s in scan)
                               / n_ops, "s")
        m["mentions.gc_s"] = (sum(s.gc_s for s in scan) / n_ops, "s")
        m["mentions.deserialize_s"] = (sum(s.deser_s for s in scan) / n_ops,
                                       "s")
        m["mentions.input_mb"] = (sum(s.py_sent_b for s in scan) / 1e6
                                  / n_ops, "MB")
        m["mentions.rows_out"] = (sum(s.mip_rows for s in scan) / n_ops,
                                  "count")

        m["kernel.extract_mb_per_s"] = (
            self.probe["kernel.extract_mb_per_s"], "MB/s")
        m["kernel.detect_mb_per_s"] = (
            self.probe["kernel.detect_mb_per_s"], "MB/s")
        m["arrow.identity_s"] = (self.probe["arrow.identity_s"], "s")

        # linking: the per-kind cache jobs behind the scan barrier
        kind_jobs = [j for j in under(("link.barrier",)) if j not in scan_jobs]
        m["link.kind_caches_s"] = (_union_s([(j.submit, j.end)
                                             for j in kind_jobs]) / n_ops, "s")
        m["link.kind_caches_jobs"] = (len(kind_jobs) / n_ops, "count")

        # emission: driver-side plan construction, then the DAG runs: every
        # job of the graph writes but the file writes themselves (each
        # write re-runs the unpersisted DAG)
        writes = ("catalog.write_edges", "catalog.write_nodes")
        emit = [j for j in under(writes)
                if not any(st.writes for st in own_stages(j))]
        # plan construction: build_triples' wall when neither a child span
        # nor a job it submitted (the scan, partly from background
        # threads) was running
        plan = 0.0
        for i in top("build.build_triples"):
            s = spans[i]
            busy = [(spans[c].start, spans[c].end)
                    for c in range(len(spans)) if spans[c].parent == i]
            busy += [(max(j.submit, s.start), min(j.end, s.end))
                     for j in jobs if j.span == i and j.end > s.start]
            plan += (s.end - s.start) - _union_s(busy)
        m["emission.plan_s"] = (plan / n_ops, "s")
        m["emission.run_s"] = (_union_s([(j.submit, j.end) for j in emit])
                               / n_ops, "s")
        m["emission.jobs"] = (len(emit) / n_ops, "count")
        m["emission.stages"] = (sum(len(own_stages(j)) for j in emit) / n_ops,
                                "count")
        m["emission.shuffle_write_mb"] = (total(emit, "shuffle_w_b") / 1e6
                                          / n_ops, "MB")

        # catalog: the build op's writes, then the calls of the sync probe
        # (catalog calls made by sync_kg and by the job's compaction)
        for name in ("write_edges", "write_nodes"):
            m[f"catalog.{name}_s"] = (wall(f"catalog.{name}") / n_ops, "s")
        cat_jobs = under(tuple(f"catalog.{c}" for c in CATALOG_CALLS))
        m["catalog.bytes_written_mb"] = (total(cat_jobs, "output_b")
                                         / 1e6 / n_ops, "MB")
        for name in ("read_changes", "delete_rows", "write_table",
                     "read_table"):
            m[f"catalog.{name}_s"] = (wall(f"catalog.{name}", "probe.sync"),
                                      "s")
        m["catalog.compact_s"] = (wall("catalog.compact_edges", "probe.sync")
                                  + wall("catalog.compact_table",
                                         "probe.sync"), "s")
        sync = getattr(getattr(self.w, "sync", None), "record", None) or {}
        m["catalog.commits"] = (sync.get("commits", 0), "count")
        m["catalog.head_dirs"] = (sync.get("head_dirs", 0), "count")

        # incremental sync (the probe)
        m["sync.delta_s"] = (wall("sync.kg", "probe.sync"), "s")
        for f in ("edges_added", "edges_retracted"):
            m[f"sync.{f}"] = (sync.get("summary", {}).get(f, 0), "count")

        # operator queries
        for q in QUERIES:
            for part in ("call", "sink"):
                m[f"query.{q}.{part}_s"] = (wall(f"query.{q}.{part}")
                                            / n_ops, "s")
        qjobs = [j for j in op_jobs
                 if spans[j.span].name.startswith("query.")]
        m["queries.gc_s"] = (total(qjobs, "gc_s") / n_ops, "s")
        m["queries.deserialize_s"] = (total(qjobs, "deser_s") / n_ops, "s")
        m["queries.shuffle_write_mb"] = (total(qjobs, "shuffle_w_b") / 1e6
                                         / n_ops, "MB")

        # whole run
        m["spark.jobs"] = (len(op_jobs) / n_ops, "count")
        m["spark.tasks"] = (total(op_jobs, "tasks") / n_ops, "count")
        m["spark.deserialize_s"] = (total(op_jobs, "deser_s") / n_ops, "s")
        m["spark.gc_s"] = (total(op_jobs, "gc_s") / n_ops, "s")
        m["spark.error_lines"] = (len(errors), "count")
        m["unattributed.jobs"] = (len([j for j in jobs if j.span is None]),
                                  "count")
        m["trace.overhead_frac"] = (tr.own_s / op_wall, "frac")
        m["trace.layer_sum_frac"] = (sum(sum(t.values()) for t in op_self)
                                     / op_wall, "frac")
        m["failed_op_frac"] = (self.failed / n_ops, "frac")
        m["peak_rss_mb"] = (self.peak_rss_mb, "MB")

        self.write_report(jobs, errors)
        return m

    def write_report(self, jobs, errors) -> None:
        """Spans, job attribution and ERROR lines per span, for humans."""
        tr = self.tracer
        where = {}
        for t, line in errors:
            i = tr.innermost(t)
            name = tr.spans[i].name if i is not None else None
            where.setdefault(name, []).append(line[:300])
        out = os.path.join(ROOT, ".perfbench", "reports",
                           f"{self.workload}-seed{self.seed}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump({
                "workload": self.workload, "seed": self.seed,
                "op_walls": self.op_walls, "spans": tr.report(),
                "jobs": [{"id": j.id, "submit": j.submit, "end": j.end,
                          "span": tr.spans[j.span].name
                          if j.span is not None else None} for j in jobs],
                "error_lines_by_span": where,
            }, f, indent=1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import uckg_spark.plans.kg_pipeline  # noqa: F401
        import uckg_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench",
                        f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # a terminated run still stops Spark and waits for its children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    _adopt_orphans()
    try:
        _env(work)
        result = Run(args.workload, args.seed, args.seconds,
                     bool(args.trace), work).execute()
    finally:
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
