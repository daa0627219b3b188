"""Crawl-drop sync: one seeded drop synced into the graph, as a probe.

The base is ``N_PAGES`` pages of about 11 KB in a pages catalog, synced
once by ``jobs/sync_kg.run`` into a graph catalog. It does not depend on
the seed, so it is built once per checkout, in a process of its own, and
kept in ``.perfbench/cache`` under a digest of the program's sources; each
traced ``build_large_pages`` run copies it and, after its build op, runs
``jobs/sync_kg.run`` with ``compact_after=COMPACT_AFTER`` after one seeded
crawl drop: 1 % of the live pages re-crawled
(``merge_table(strategy="mor")``), 1 % deleted and as many new pages
inserted, committed before the sync starts. Inserts equal deletes, so the
live corpus keeps its size.

The sync is checked against the pure-Python oracle: ``changed_urls`` must
equal the drop size, and ``edges_added``/``edges_retracted`` the oracle's
edge delta. Then the graph must equal the oracle graph of the live pages,
which is ``build_triples`` over them (``tests/test_incremental_sync.py``'s
invariant, with the oracle standing in for the batch build that the
``build_large_pages`` check ties to it). The base is checked the same way
when it is built.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import subprocess
import sys

from perfbench import kg

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_PAGES = 1000
BASE_SEED = 0
FILLER_PARAS = 45  # ~11 KB of html per page
DROP_FRAC = 0.01
# heads span 3 files after one drop (data dir, delete file, appended dir),
# so 2 makes every drop compact; with 4 only every second drop would, and
# a run syncs one drop
COMPACT_AFTER = 2


class DropSequence:
    """Seeded crawl drops over the live corpus ``{page id: page seed}``
    (the seed ``fixtures.pages.page_row`` derives the page from)."""

    def __init__(self, seed: int, n_pages: int = N_PAGES):
        self.seed = seed
        self.rng = random.Random(f"perfbench-drops:{seed}")
        self.live: dict[int, object] = dict(kg.corpus_specs(BASE_SEED,
                                                            n_pages))
        self.next_id = n_pages
        self.size = max(1, round(n_pages * DROP_FRAC))
        self.drops = 0

    def next(self) -> dict:
        """The next drop; ``upserts``/``deletes`` are ``page_row`` specs."""
        k, d = self.size, self.drops
        pick = self.rng.sample(sorted(self.live), 2 * k)
        deletes, recrawls = sorted(pick[:k]), sorted(pick[k:])
        inserts = list(range(self.next_id, self.next_id + k))
        gone = [(i, self.live.pop(i)) for i in deletes]
        for i in recrawls:
            self.live[i] = f"{self.seed}r{d}"
        for i in inserts:
            self.live[i] = self.seed
        self.next_id += k
        self.drops += 1
        return {"deletes": gone,
                "upserts": [(i, self.live[i]) for i in recrawls + inserts],
                "changed_urls": 3 * k}


class Reference:
    """The oracle graph of the live corpus, moved drop by drop."""

    def __init__(self, n_pages: int, workers: int):
        self.triples = kg.oracle_triples(kg.corpus_specs(BASE_SEED, n_pages),
                                         FILLER_PARAS, workers)

    def edges(self) -> set:
        return kg.oracle_graph(set().union(*self.triples.values()))[0]

    def apply(self, drop: dict) -> tuple[int, int]:
        """Apply ``drop``; returns the oracle's (edges added, retracted)."""
        before = self.edges()
        for row in kg.page_rows(drop["deletes"], FILLER_PARAS):
            del self.triples[row["url"]]
        self.triples.update(kg.oracle_triples(drop["upserts"], FILLER_PARAS,
                                              workers=1))
        after = self.edges()
        return len(after - before), len(before - after)

    def digest(self) -> dict:
        return kg.graph_digest(*kg.oracle_graph(
            set().union(*self.triples.values())))


def _source_digest() -> str:
    """Digest of the program and benchmark sources the base depends on."""
    h = hashlib.sha256()
    for top in ("uckg_spark", "jobs", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def sync(spark, root: str, dims) -> dict:
    from jobs import sync_kg

    return sync_kg.run(spark, os.path.join(root, "pages"),
                       os.path.join(root, "graph"),
                       compact_after=COMPACT_AFTER, dims=dims)


def build_base(out: str, cores: int) -> None:
    """Write the base pages catalog under ``out/pages``, sync it into
    ``out/graph`` and check the graph against the oracle."""
    from perfbench.run import _stop_spark
    from uckg_spark.fixtures.pages import synthesize_pages_df
    from uckg_spark.plans.kg_pipeline import KgDims
    from uckg_spark.session import build_session
    from uckg_spark.sources.catalog import GraphCatalog

    spark = build_session(app_name="perfbench-sync-base",
                          master=f"local[{cores}]")
    try:
        dims = KgDims(spark)
        GraphCatalog(os.path.join(out, "pages")).write_table(
            "pages", synthesize_pages_df(spark, N_PAGES, seed=BASE_SEED,
                                         filler_paras=FILLER_PARAS))
        sync(spark, out, dims)
        got = kg.catalog_digest(spark, os.path.join(out, "graph"))
    finally:
        _stop_spark(spark)
    want = Reference(N_PAGES, cores).digest()
    if got != want:
        raise SystemExit(f"the base graph differs from the oracle: {got} "
                         f"!= {want}")


def base_dir(cache: str, cores: int) -> str:
    """The synced base for the current sources, built on first use."""
    out = os.path.join(cache, f"sync-base-{_source_digest()}")
    if not os.path.isdir(out):
        tmp = f"{out}.{os.getpid()}"
        subprocess.run([sys.executable, "-m", "perfbench.sync", tmp,
                        str(cores)], cwd=ROOT, check=True,
                       stdout=sys.stderr)
        os.rename(tmp, out)
    return out


def commit_drop(spark, pages_cat, drop: dict) -> None:
    from uckg_spark.sources.pages import pages_df

    pages_cat.merge_table(
        spark, "pages",
        pages_df(spark, kg.page_rows(drop["upserts"], FILLER_PARAS)),
        ["url"], strategy="mor")
    urls = [(r["url"],) for r in kg.page_rows(drop["deletes"], FILLER_PARAS)]
    pages_cat.delete_rows("pages", spark.createDataFrame(urls, "url string"),
                          ["url"])


class Probe:
    """One seeded drop, synced into a copy of the base after the build op
    of a traced ``build_large_pages`` run: the figures of the sync layers
    (``plans.incremental`` and the catalog's write-heavy calls)."""

    def __init__(self, run):
        self.run = run
        self.root = os.path.join(run.work, "sync")
        self.graph_root = os.path.join(self.root, "graph")
        self.record: dict | None = None

    def ensure_base(self) -> None:
        with self.run.tracer.span("prep.sync_base"):
            self.base = base_dir(os.path.join(self.run.root, ".perfbench",
                                              "cache"), self.run.cores)

    def prepare_local(self) -> None:
        with self.run.tracer.span("prep.sync_copy"):
            shutil.copytree(self.base, self.root)
            self.ref = Reference(N_PAGES, self.run.cores)

    def drop(self, spark) -> list[str]:
        """Commit one drop, sync it (span ``probe.sync``) and check the
        result; returns the failed checks."""
        from uckg_spark.sources.catalog import GraphCatalog

        span = self.run.tracer.span
        drop = DropSequence(self.run.seed).next()
        with span("probe.sync_commit"):
            commit_drop(spark, GraphCatalog(os.path.join(self.root, "pages")),
                        drop)
        before = kg.commits(self.graph_root)
        with span("probe.sync"):
            summary = sync(spark, self.root, self.run.dims)
        self.record = {"summary": summary,
                       "commits": kg.commits(self.graph_root) - before,
                       "head_dirs": kg.head_dirs(self.graph_root,
                                                 ("edges", "mentions"))}
        added, retracted = self.ref.apply(drop)
        want = {"status": "synced", "changed_urls": drop["changed_urls"],
                "edges_added": added, "edges_retracted": retracted}
        bad = [f"{f}={summary.get(f)!r}, want {v!r}"
               for f, v in want.items() if summary.get(f) != v]
        with span("probe.sync_check"):
            got = kg.catalog_digest(spark, self.graph_root)
        want = self.ref.digest()
        return bad + [f"graph {f}" for f in got if got[f] != want[f]]


if __name__ == "__main__":
    from perfbench.run import _adopt_orphans, _reap_children

    _adopt_orphans()
    try:
        build_base(sys.argv[1], int(sys.argv[2]))
    finally:
        _reap_children()
