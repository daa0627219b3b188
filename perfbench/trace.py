"""Spans, Spark event-log attribution, ERROR-line capture and RSS sampling.

Tracing lives entirely in the benchmark: spans open around the benchmark's
own calls into the program, and around a few program functions reached
only through another public function, by replacing the attribute that the
caller resolves at call time (``Tracer.wrap``). Spark's executor-side
counters come from the event log, which the traced run switches on through
``build_session(extra_conf=...)``. Each Spark job is attributed to the
innermost main-thread span open when the job was submitted, which also
covers jobs submitted from program-owned background threads.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

_MAIN = threading.main_thread


class Span:
    __slots__ = ("name", "start", "end", "parent", "depth")

    def __init__(self, name: str, start: float, parent: int | None,
                 depth: int):
        self.name, self.start, self.end = name, start, None
        self.parent, self.depth = parent, depth


class Tracer:
    """In-memory span recorder for the main thread.

    With ``enabled=False`` every method is a cheap no-op, so the untraced
    run executes the same benchmark code without bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self.own_s = 0.0  # driver time spent inside the tracer itself

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or threading.current_thread() is not _MAIN():
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent, len(self._stack)))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.own_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans[idx].end = time.time()
            self._stack.pop()
            self.own_s += time.perf_counter() - t1

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until ``unwrap``."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- queries over the recorded spans ---------------------------------

    def innermost(self, t: float) -> int | None:
        """Index of the deepest span whose interval holds time ``t``."""
        best = None
        for i, s in enumerate(self.spans):
            if s.start <= t < (s.end if s.end is not None else float("inf")):
                if best is None or s.depth > self.spans[best].depth:
                    best = i
        return best

    def within(self, i: int, j: int) -> bool:
        """True when span ``j`` is span ``i`` or one of its descendants."""
        while j is not None:
            if j == i:
                return True
            j = self.spans[j].parent
        return False

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name over the strict descendants of ``root``.

        Self time is a span's duration minus the part of it that its child
        spans cover; children never overlap because one thread opens them."""
        out: dict[str, float] = {}
        kids: dict[int, float] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None and self.within(root, s.parent):
                kids[s.parent] = kids.get(s.parent, 0.0) + (s.end - s.start)
        for i, s in enumerate(self.spans):
            if i != root and s.parent is not None and self.within(root, i):
                own = (s.end - s.start) - kids.get(i, 0.0)
                out[s.name] = out.get(s.name, 0.0) + own
        return out

    def report(self) -> list[dict]:
        return [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent} for s in self.spans]


class StderrCapture:
    """Timestamp every line written to file descriptor 2.

    Installed before the JVM starts, so the JVM inherits the pipe and its
    log4j output arrives here with the time it was written (log4j's own
    timestamps have one-second resolution). Lines are copied to ``log_path``
    and ``ERROR`` lines are kept with their arrival time."""

    def __init__(self, log_path: str):
        self.errors: list[tuple[float, str]] = []
        self._log = open(log_path, "w")
        self._saved = os.dup(2)
        r, w = os.pipe()
        os.dup2(w, 2)
        os.close(w)
        self._reader = threading.Thread(target=self._drain, args=(r,),
                                        daemon=True)
        self._reader.start()

    def _drain(self, fd: int) -> None:
        with os.fdopen(fd, "r", errors="replace") as pipe:
            for line in pipe:
                now = time.time()
                self._log.write(line)
                if " ERROR " in line:
                    self.errors.append((now, line.rstrip()))

    def close(self) -> None:
        """Restore fd 2 and wait for the pipe to drain. Call after every
        process that inherited the pipe (the JVM) has exited."""
        os.dup2(self._saved, 2)
        os.close(self._saved)
        self._reader.join(timeout=30)
        self._log.close()


class RssSampler:
    """Peak resident set size of this process and its descendants (JVM,
    Python workers), sampled from /proc.

    Only ``java`` and ``python*`` processes count: a JVM that forks a
    helper (Hadoop runs ``chmod`` that way) leaves a child that shares all
    of its pages copy-on-write until the exec, and counting that child
    would double the JVM for those few milliseconds."""

    def __init__(self, period_s: float = 0.2):
        self.peak_bytes = 0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # "pid (comm) state ppid ...": fields after the command name
            comm = stat[stat.find("(") + 1:stat.rfind(")")]
            fields = stat[stat.rfind(")") + 2:].split()
            pid = int(entry)
            children.setdefault(int(fields[1]), []).append(pid)
            if comm == "java" or comm.startswith("python"):
                rss[pid] = int(fields[21]) * self._page
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.tree_rss())
            self._stop.wait(self._period)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self.tree_rss())
        return self.peak_bytes / 1e6


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


class Job:
    __slots__ = ("id", "submit", "end", "stages", "span")

    def __init__(self, jid: int, submit: float, stages: list[int]):
        self.id, self.submit, self.end = jid, submit, submit
        self.stages, self.span = stages, None


class StageStats:
    __slots__ = ("tasks", "cpu_s", "gc_s", "deser_s", "output_b",
                 "shuffle_w_b", "py_sent_b", "py_run_s", "mip_rows", "writes")

    def __init__(self):
        self.tasks = 0
        self.cpu_s = self.gc_s = self.deser_s = 0.0
        self.output_b = self.shuffle_w_b = 0
        # Arrow bytes sent to, and busy time of, the stage's Python workers
        # (Spark's input-bytes counter misses the parquet reads made by the
        # thread that feeds them)
        self.py_sent_b, self.py_run_s = 0, 0.0
        self.mip_rows = 0  # rows out of MapInPandas nodes in this stage
        self.writes = False  # the stage wrote files


def _plan_nodes(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", ()):
        if m.get("name") == "number of output rows":
            out[m["accumulatorId"]] = info.get("nodeName", "")
    for child in info.get("children", ()):
        _plan_nodes(child, out)


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, StageStats]]:
    """Jobs (with submission/completion wall times) and per-stage task
    totals from every uncompressed event log under ``log_dir``."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageStats] = {}
    acc_node: dict[int, str] = {}
    stage_accs: dict[int, list[dict]] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    j = Job(ev["Job ID"], ev["Submission Time"] / 1000,
                            [s["Stage ID"] for s in ev["Stage Infos"]])
                    jobs[j.id] = j
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], StageStats())
                    m = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1e3
                    st.deser_s += m.get("Executor Deserialize Time", 0) / 1e3
                    st.output_b += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
                    st.shuffle_w_b += (m.get("Shuffle Write Metrics") or {}
                                       ).get("Shuffle Bytes Written", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    st = stages.setdefault(sid, StageStats())
                    accs = info.get("Accumulables", [])
                    stage_accs[sid] = accs
                    for a in accs:
                        if a.get("Name") == "data sent to Python workers":
                            st.py_sent_b += int(a.get("Value") or 0)
                        elif a.get("Name") == "time to run Python workers":
                            st.py_run_s += int(a.get("Value") or 0) / 1e3
                    st.writes = any('"WriteFiles"' in (r.get("Scope") or "")
                                    for r in info.get("RDD Info", ()))
                elif kind.endswith(("SQLExecutionStart",
                                    "SQLAdaptiveExecutionUpdate")):
                    _plan_nodes(ev.get("sparkPlanInfo") or {}, acc_node)
    for sid, accs in stage_accs.items():
        stages[sid].mip_rows = sum(
            int(a.get("Value") or 0) for a in accs
            if acc_node.get(a.get("ID")) == "MapInPandas")
    return sorted(jobs.values(), key=lambda j: j.id), stages


def ran_python(st: StageStats) -> bool:
    return st.py_sent_b > 0
