"""Workload ``build_large_pages``: one full KG build per op, plus the
oracle, digests, layer wraps and probes that both KG workloads share.

The corpus is ``N_PAGES`` seeded pages padded to about 260 KB, written to
parquet by ``fixtures.pages.synthesize_pages_df`` during preparation. One
op is the body of ``jobs/build_kg.py`` without ``--resume-root``, into a
fresh catalog directory: ``read_pages`` -> ``build_triples`` ->
``materialize_graph`` -> ``write_edges`` + ``write_nodes``. Caches are
cleared between ops. Every op's graph is checked against a digest of the
pure-Python oracle over the same pages, computed once before Spark starts.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import time

N_PAGES = 1000
FILLER_PARAS = 1400  # ~260 KB of html per page
ORACLE_CHUNK = 50
PROBE_PAGES, PROBE_REPS = 40, 3

# GraphCatalog methods that get a ``catalog.<name>`` span in traced runs
CATALOG_CALLS = ("write_edges", "write_nodes", "write_table", "read_table",
                 "read_changes", "delete_rows", "merge_table",
                 "compact_edges", "compact_table")


def page_rows(specs: list[tuple[int, object]], filler: int) -> list[dict]:
    """``fixtures.pages.page_row`` for each (page id, page seed)."""
    from uckg_spark.fixtures.pages import page_row

    return [page_row(i, s, filler) for i, s in specs]


def _oracle_chunk(args) -> dict[str, set]:
    from uckg_spark.oracle.kg_oracle import OracleDictionaries, run_oracle

    specs, filler = args
    dicts = OracleDictionaries()
    return {row["url"]: run_oracle([row], dicts)[1]
            for row in page_rows(specs, filler)}


def oracle_triples(specs: list[tuple[int, object]], filler: int,
                   workers: int) -> dict[str, set]:
    """Oracle triples per page url, computed in a spawn-context process
    pool (the oracle is pure Python and page by page: the triples of a
    corpus are the union of its pages' triples)."""
    if len(specs) <= ORACLE_CHUNK:
        return _oracle_chunk((specs, filler))
    chunks = [(specs[lo:lo + ORACLE_CHUNK], filler)
              for lo in range(0, len(specs), ORACLE_CHUNK)]
    out: dict[str, set] = {}
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(workers) as pool:
        for part in pool.imap_unordered(_oracle_chunk, chunks):
            out.update(part)
        pool.close()
        pool.join()
    return out


def oracle_graph(triples) -> tuple[set, dict]:
    """``materialize_graph`` over oracle triples, in plain Python."""
    from uckg_spark.kernel import templates as T

    edges = {(t.subj, t.pred, t.obj) for t in triples
             if not t.obj_is_literal and t.pred != T.RDF_TYPE}
    labels: dict[str, set] = {}
    props: dict[str, dict[str, set]] = {}
    for t in triples:
        if t.pred == T.RDF_TYPE:
            labels.setdefault(t.subj, set()).add(t.obj)
        if t.obj_is_literal:
            props.setdefault(t.subj, {}).setdefault(t.pred, set()).add(t.obj)
    nodes = {
        uri: (sorted(labels.get(uri, ())),
              {p: sorted(v) for p, v in props.get(uri, {}).items()})
        for uri in labels.keys() | props.keys()
    }
    return edges, nodes


def graph_digest(edges, nodes) -> dict[str, str]:
    """Order-insensitive digests of an edge set {(s, p, o)} and a node map
    {uri: (labels, {pred: values})}, with labels and values sorted."""
    e = "\n".join(sorted("\x01".join(t) for t in edges))
    n = "\n".join(sorted(
        json.dumps([uri, sorted(labels), sorted(
            (p, sorted(v)) for p, v in props.items())])
        for uri, (labels, props) in nodes.items()))
    return {"edges": hashlib.sha256(e.encode()).hexdigest(),
            "nodes": hashlib.sha256(n.encode()).hexdigest(),
            "n_edges": len(edges), "n_nodes": len(nodes)}


def corpus_specs(seed: int, n_pages: int = N_PAGES) -> list[tuple[int, int]]:
    return [(i, seed) for i in range(n_pages)]


def oracle_digest(seed: int, n_pages: int = N_PAGES, workers: int = 4,
                  filler: int = FILLER_PARAS) -> dict:
    per_page = oracle_triples(corpus_specs(seed, n_pages), filler, workers)
    return graph_digest(*oracle_graph(set().union(*per_page.values())))


def catalog_digest(spark, root: str) -> dict:
    from uckg_spark.sources.catalog import GraphCatalog

    cat = GraphCatalog(root)
    edges = {tuple(r) for r in
             cat.read_edges(spark).select("subj", "pred", "obj").collect()}
    nodes = {r["uri"]: (list(r["labels"]),
                        {p: list(v) for p, v in (r["props"] or {}).items()})
             for r in cat.read_nodes(spark).collect()}
    return graph_digest(edges, nodes)


def head_dirs(root: str, tables: tuple[str, ...]) -> int:
    """Data dirs plus delete files of the heads of ``tables``: the files a
    reader opens, i.e. read amplification."""
    from uckg_spark.sources.catalog import GraphCatalog

    cat = GraphCatalog(root)
    n = 0
    for t in tables:
        head = cat.latest_snapshot(t)
        if head:
            n += len(head["dirs"]) + len(head.get("deletes") or [])
    return n


def commits(root: str) -> int:
    heads = os.path.join(root, "_heads")
    if not os.path.isdir(heads):
        return 0
    return len([n for n in os.listdir(heads) if n.endswith(".json")])


def trace_layers(tracer) -> None:
    """Spans around the layers that the ops reach only inside another
    public function: the attribute each caller resolves at call time."""
    from uckg_spark.plans import incremental, kg_pipeline
    from uckg_spark.sources.catalog import GraphCatalog

    tracer.wrap(kg_pipeline, "linked_mentions", "link.construct")
    tracer.wrap(incremental, "linked_mentions", "link.construct")
    tracer.wrap(kg_pipeline.MentionTables, "join_barrier", "link.barrier")
    tracer.wrap(incremental, "build_triples", "build.build_triples")
    tracer.wrap(incremental, "sync_kg", "sync.kg")
    for name in CATALOG_CALLS:
        tracer.wrap(GraphCatalog, name, f"catalog.{name}")


def build_op(spark, dims, pages_path: str, out: str, tracer) -> dict:
    """One full build into the fresh catalog directory ``out``."""
    from uckg_spark.plans.kg_pipeline import build_triples, materialize_graph
    from uckg_spark.sources.catalog import GraphCatalog
    from uckg_spark.sources.pages import read_pages

    with tracer.span("build.read_pages"):
        pages = read_pages(spark, pages_path)
    with tracer.span("build.build_triples"):
        triples = build_triples(spark, pages, dims)
    with tracer.span("graph.materialize"):
        nodes, edges = materialize_graph(triples)
    cat = GraphCatalog(out)
    cat.write_edges(edges)
    cat.write_nodes(nodes)
    return {"commits": commits(out), "head_dirs": head_dirs(out, ("edges",))}


class Workload:
    """Hooks that ``run.Run`` calls; see ``run.py``."""

    kg = True

    def __init__(self, run):
        self.run = run

    def prepare_local(self) -> None:
        from perfbench.sync import Probe

        # the sync probe's base is built by the first run in a checkout,
        # so that no traced run pays for it
        probe = Probe(self.run)
        probe.ensure_base()
        if self.run.trace:
            self.sync = probe
            self.sync.prepare_local()
        with self.run.tracer.span("prep.oracle"):
            self.expected = oracle_digest(self.run.seed,
                                          workers=self.run.cores)

    def prepare_spark(self, spark) -> None:
        from uckg_spark.fixtures.pages import synthesize_pages_df
        from uckg_spark.sources.pages import write_pages

        self.pages = os.path.join(self.run.work, "pages")
        with self.run.tracer.span("prep.corpus"):
            write_pages(synthesize_pages_df(spark, N_PAGES,
                                            seed=self.run.seed,
                                            filler_paras=FILLER_PARAS),
                        self.pages)

    def op(self, spark, k: int):
        out = os.path.join(self.run.work, f"graph-{k}")
        return {"out": out, **build_op(spark, self.run.dims, self.pages,
                                       out, self.run.tracer)}

    def check(self, spark, records: list) -> dict[int, list[str]]:
        bad = {}
        for k, record in enumerate(records):
            if record is not None:
                got = catalog_digest(spark, record["out"])
                bad[k] = [f for f in got if got[f] != self.expected[f]]
        return bad


# -- probes (traced runs) -----------------------------------------------------


def kernel_probe(seed: int) -> dict:
    """In-process extract and detect throughput over seeded page html,
    with no Spark: ``extract_text``, then ``scan_ids`` +
    ``LinkState.fuzzy_mentions`` (the two halves of the fused scan)."""
    import statistics

    from uckg_spark.fixtures import dicts as D
    from uckg_spark.kernel.extract import extract_text
    from uckg_spark.kernel.ids import scan_ids
    from uckg_spark.operators.mentions import LinkState

    htmls = [r["html"] for r in page_rows(corpus_specs(seed, PROBE_PAGES),
                                          FILLER_PARAS)]
    state = LinkState(D.alias_table())
    html_mb = sum(map(len, htmls)) / 1e6
    ext, det = [], []
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        texts = [extract_text(h) for h in htmls]
        t1 = time.perf_counter()
        for t in texts:
            if t:
                scan_ids(t)
                state.fuzzy_mentions(t)
        t2 = time.perf_counter()
        ext.append(html_mb / (t1 - t0))
        det.append(sum(len(t.encode()) for t in texts if t) / 1e6 / (t2 - t1))
    return {"kernel.extract_mb_per_s": statistics.median(ext),
            "kernel.detect_mb_per_s": statistics.median(det)}


def arrow_probe(spark, seed: int, path: str) -> float:
    """Median wall of an identity ``mapInPandas`` over the ``(url, html)``
    columns of the probe pages: the JVM<->Python crossing without kernel."""
    import statistics

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = page_rows(corpus_specs(seed, PROBE_PAGES), FILLER_PARAS)
    pq.write_table(pa.table({"url": [r["url"] for r in rows],
                             "html": [r["html"] for r in rows]}), path)
    df = spark.read.parquet(path).select("url", "html")

    def identity(batches):
        yield from batches

    walls = []
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        df.mapInPandas(identity, df.schema).write.format("noop") \
            .mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)
