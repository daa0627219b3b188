"""N -> 4N scaling of the KG build, one executor JVM per core.

Times perfbench's ``build_large_pages`` op body (``perfbench.kg.build_op``:
read pages -> ``build_triples`` -> ``materialize_graph`` -> edge and node
writes into a fresh catalog) on ``local-cluster[1,1,M]`` and on
``local-cluster[4,1,M]``: one and four executor JVMs of one core each, so
no two executors share a heap, a GC or a Python worker. Every rep is one
cold op in its own process (session start, executor registration and
``KgDims`` are reported apart as ``start_s``), reps alternate N, 4N, N,
4N, ... so both sides sample the same host noise, and every rep's graph
is checked against the oracle digest of the same seeded pages. The
result, every rep included, is written to ``SCALING.json`` at the root of
the checkout.

  python tools/scaling_bench.py

``--worker`` is the entry of the per-rep and corpus subprocesses.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SEED = 31
N_PAGES = 3000  # perfbench's ~260 KB pages: the scan is the largest layer
CORPUS_FILES = 8  # the scan plans them as 2 tasks on N, 4 on 4N
WORKER_MB = 1024
EXECUTORS = (1, 4)
REPS = 3  # per side


def _master(executors: int) -> str:
    return f"local-cluster[{executors},1,{WORKER_MB}]"


def _session(master: str):
    from uckg_spark.session import build_session

    spark = build_session(
        app_name="uckg-scaling", master=master,
        extra_conf={"spark.executorEnv.PYTHONPATH": REPO})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _wait_for_executors(spark, n: int, timeout_s: float = 120.0) -> None:
    """Block until ``n`` executors have registered (the driver's block
    manager is the extra entry), so the op never starts on fewer."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus
    deadline = time.monotonic() + timeout_s
    while status().size() < n + 1:
        if time.monotonic() > deadline:
            raise RuntimeError(f"{n} executors did not register")
        time.sleep(0.1)


def _worker_corpus(pages: str) -> dict:
    from pyspark.sql import functions as F

    from perfbench.kg import FILLER_PARAS
    from perfbench.run import _stop_spark
    from uckg_spark.fixtures.pages import synthesize_pages_df
    from uckg_spark.sources.pages import read_pages, write_pages

    spark = _session(_master(max(EXECUTORS)))
    try:
        write_pages(synthesize_pages_df(spark, N_PAGES, seed=SEED,
                                        filler_paras=FILLER_PARAS,
                                        partitions=CORPUS_FILES), pages)
        row = read_pages(spark, pages).agg(
            F.count("*").alias("pages"),
            F.sum(F.length("html")).alias("html_bytes")).first()
    finally:
        _stop_spark(spark)
    return {"pages": row["pages"], "html_mb": round(row["html_bytes"] / 1e6, 1)}


def _worker_build(executors: int, pages: str, out: str) -> dict:
    from perfbench.kg import build_op, catalog_digest
    from perfbench.run import _stop_spark
    from perfbench.trace import Tracer
    from uckg_spark.plans.kg_pipeline import KgDims

    t0 = time.perf_counter()
    spark = _session(_master(executors))
    try:
        _wait_for_executors(spark, executors)
        dims = KgDims(spark)
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        build_op(spark, dims, pages, out, Tracer(False))
        op_s = time.perf_counter() - t0
        digest = catalog_digest(spark, out)
    finally:
        _stop_spark(spark)
    return {"start_s": round(start_s, 2), "op_s": round(op_s, 2),
            "digest": digest}


def _run_worker(*args: object) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker",
         *map(str, args)],
        cwd=REPO, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode or not lines:
        raise RuntimeError(f"worker {args} failed:\n{proc.stderr[-4000:]}")
    return json.loads(lines[-1])


def _side(reps: list[dict]) -> dict:
    walls = [r["op_s"] for r in reps]
    med = statistics.median(walls)
    return {"op_s_reps": walls,
            "start_s_reps": [r["start_s"] for r in reps],
            "op_s_median": med,
            "op_s_spread": round((max(walls) - min(walls)) / med, 3),
            "graph_matches_oracle": [r["match"] for r in reps]}


def main() -> dict:
    from perfbench.kg import oracle_digest

    lo, hi = EXECUTORS
    work = tempfile.mkdtemp(prefix="uckg-scaling-")
    try:
        pages = os.path.join(work, "pages")
        expected = oracle_digest(SEED, N_PAGES)
        corpus = _run_worker("corpus", pages)
        runs: dict[int, list[dict]] = {lo: [], hi: []}
        for rep in range(REPS):
            for n in (lo, hi):
                r = _run_worker("build", n, pages,
                                os.path.join(work, f"graph-{n}-{rep}"))
                r["match"] = r.pop("digest") == expected
                runs[n].append(r)
                print(f"executors={n} rep={rep} op_s={r['op_s']} "
                      f"match={r['match']}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sides = {n: _side(runs[n]) for n in (lo, hi)}
    speedup = sides[lo]["op_s_median"] / sides[hi]["op_s_median"]
    eff = speedup / (hi // lo)
    host_cores = os.cpu_count()
    result = {
        "job": "perfbench.kg.build_op (build_large_pages op body), cold, "
               "one op per process",
        "corpus": {"seed": SEED, "pages": corpus["pages"],
                   "html_mb": corpus["html_mb"], "files": CORPUS_FILES},
        "oracle": {"n_edges": expected["n_edges"],
                   "n_nodes": expected["n_nodes"]},
        "masters": [_master(lo), _master(hi)],
        "order": "interleaved " + ",".join(
            f"{lo},{hi}" for _ in range(REPS)),
        f"executors_{lo}": sides[lo],
        f"executors_{hi}": sides[hi],
        "speedup": round(speedup, 3),
        "scaling_efficiency_N_to_4N": round(eff, 3),
        "north_rule_0_8": "holds" if eff >= 0.8 else "not met",
        "all_graphs_match_oracle": all(r["match"] for side in runs.values()
                                       for r in side),
        "host_cores": host_cores,
        "host_note": (
            f"{hi} executor JVMs plus the driver JVM and its Python "
            f"process share {host_cores} cores, so the {hi}-executor side "
            "is oversubscribed" if host_cores and host_cores <= hi else
            f"{host_cores} cores for {hi} executors plus the driver"),
    }
    with open(os.path.join(REPO, "SCALING.json"), "w") as f:
        json.dump(result, f, indent=2)
        f.write("\n")
    return result


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--worker":
        role, *rest = sys.argv[2:]
        if role == "corpus":
            print(json.dumps(_worker_corpus(*rest)))
        else:
            print(json.dumps(_worker_build(int(rest[0]), *rest[1:])))
    else:
        print(json.dumps(main(), indent=2))
