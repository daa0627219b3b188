"""End-to-end KG construction: pages → extract → mentions → link →
canonicalize → triples → nodes/edges.

Spark mapping of the reference lifecycle (SURVEY.md §3 "graft lifecycle"),
mention→triple rules R1–R8 defined in oracle/kg_oracle.py (the oracle is
the parity target; tests assert set equality on fixtures).

Scale design (10^12 docs, BASELINE.json north_rule):
- the html column is dropped immediately after extraction (stage 1) — the
  only shuffle-weight columns afterwards are url + short tokens;
- every dictionary join is an explicit ``broadcast()`` (dims are MBs);
- per-page co-mention joins key on url — high-cardinality, well-spread;
  hot-ENTITY skew (popular CVEs) lands on the final dedup, which is an
  aggregate (partial map-side combine) + AQE skew splitting;
- dropDuplicates everywhere is the A1/A2 canonicalization of the reference
  (n10s unique-URI MERGE, /root/reference/process/graph_updater.py:30-45).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernel import templates as T
from ..operators.mentions import scan_pages
from ..session import reuse
from . import triples as PT

P_EXPLOITS = T.UCO_BARE + "ucoexploitsVulnerability"  # decl uco2.ttl:45


class KgDims:
    """All dimension DataFrames + alias rows, built once per job. Each dim
    is a driver-held local relation (``sources/dims.py``): no job builds
    it and nothing needs materializing before it is broadcast.
    ``tables`` keeps the Arrow tables the frames were made from, so the
    record batches can take their rows on the driver."""

    def __init__(self, spark: SparkSession):
        from ..fixtures import dicts as D
        from ..sources import dims as S

        self.tables = S.dim_tables()
        t = {k: S.local_df(spark, k, v) for k, v in self.tables.items()}
        self.cve = t["cve"]
        self.cwe = t["cwe"]
        self.cpe = t["cpe"]
        self.cpe_vp = t["cpe_vp"]
        self.attack_ents, self.attack_rels = t["attack_ents"], t["attack_rels"]
        self.capec = t["capec"]
        self.d3fend = t["d3fend"]
        self.alias_rows = D.alias_table()


class MentionTables(dict):
    """The persisted mention stream (``mentions``) and the per-kind
    mention views over it, keyed by kind.

    ``linked_mentions`` starts materializing the scan on a background
    thread: callers MUST invoke :meth:`join_barrier` before triggering any
    downstream action (``build_triples`` does)."""

    _join_scan = None

    def join_barrier(self) -> None:
        """Join the scan thread and re-raise what the scan raised.
        Idempotent: a second call does nothing."""
        join, self._join_scan = self._join_scan, None
        if join is not None:
            join()

    def unpersist(self) -> None:
        """Join the scan, then release the mention cache: a long-lived
        driver that links repeatedly accumulates cache blocks otherwise,
        and a released scan must not keep running. A scan error surfaces
        here too."""
        try:
            self.join_barrier()
        finally:
            self["mentions"].unpersist()


def _in_background(fn):
    """Start ``fn`` on a daemon thread that inherits the caller's job
    group and description (PySpark's pinned threads need
    ``InheritableThread`` for that); the returned call joins it and
    re-raises what it raised."""
    from pyspark import InheritableThread

    err: list[BaseException] = []

    def run():
        try:
            fn()
        except BaseException as e:  # re-raised at the join
            err.append(e)

    t = InheritableThread(run, daemon=True)
    t.start()

    def join():
        t.join()
        if err:
            raise err[0]

    return join


def linked_mentions(
    spark: SparkSession, pages: DataFrame, dims: KgDims,
    mention_partitions: int | None = None,
    raw_mentions: DataFrame | None = None,
) -> "MentionTables":
    """Stages 1–3: extract, detect, link.

    ``raw_mentions``: a precomputed mention stream (url, kind, token,
    canonical_id) — e.g. the incrementally-maintained mention store of
    ``plans/incremental.py`` — replayed through the exact same linking
    derivation instead of re-scanning pages; ``pages`` is ignored. The
    scan is the corpus-sized cost, the linking is mention-sized.

    SHUFFLE BUDGET: the mention stream is persisted once, and it is the
    only cache; every per-kind table below is a lazy view of it, a narrow
    filter plus, for the dictionary-checked kinds, a broadcast join
    against a local relation: no shuffle of the mention stream. The
    co-mention pair joins in build_triples shuffle on url — and are LEFT
    TO AQE on purpose: at small scale AQE converts them to broadcast joins
    and coalesces the tiny post-shuffle partitions; at web scale it splits
    skewed url partitions. A static repartition(url) here (measured) pins
    the plan to fixed-width sort-merge joins and forfeits both
    adaptations. Mention rows are deliberately NOT deduplicated (a page
    may mention the same id twice): every consumer is a pair-distinct, a
    dropDuplicates, the dictionary key distinct or the global A1 dedup —
    re-deduplicating here would be a wasted shuffle.

    The mention stream is plain ``persist()``-ed. (A localCheckpoint
    variant was measured and REJECTED: under AQE, ``Dataset.checkpoint``
    pre-executes the adaptive plan inside ``toRdd`` — the full page scan ran
    serially on the driver thread at wrapper-construction time, costing
    ~187 s at 720k pages before any overlap could start.)
    """
    mentions = (raw_mentions if raw_mentions is not None
                else scan_pages(spark, pages, dims.alias_rows))
    # the mention table is ~1000× smaller than pages; re-bucketing it to a
    # size-appropriate partition count before caching caps the task count
    # of every downstream branch (task dispatch is the driver's serial
    # bottleneck)
    if mention_partitions:
        mentions = mentions.repartition(mention_partitions)
    mentions = mentions.persist()
    # The scan starts here, before any view or downstream plan is built,
    # and runs on a background thread behind MentionTables.join_barrier():
    # the caller constructs its (py4j-round-trip-heavy) downstream plan
    # WHILE executors run the scan. That driver time is
    # core-count-independent, so hiding it behind the scan buys wall time
    # at every cluster size.
    #
    # The cache must be populated BEFORE any downstream action. Downstream,
    # AQE materializes query stages CONCURRENTLY and independently; if the
    # cache is still lazy at that point, each racing stage recomputes the
    # full extract+scan kernel for partitions whose cache block isn't
    # populated yet — measured as a ~2× wall regression at 8 cores (and
    # worse with more cores: more concurrent stages, more duplicated
    # scans).
    join_scan = _in_background(mentions.count)

    m_cve = mentions.filter(F.col("kind") == "cve").select(
        "url", F.col("canonical_id").alias("cve")
    )
    m_cwe = (
        mentions.filter(F.col("kind") == "cwe")
        .join(
            F.broadcast(dims.cwe.select(F.col("id_value").alias("cwe"))),
            F.col("canonical_id") == F.col("cwe"),
            "inner",  # membership: only dictionary CWEs link (P6 analog)
        )
        .select("url", "cwe")
    )
    m_capec = (
        mentions.filter(F.col("kind") == "capec")
        .join(
            F.broadcast(
                dims.capec.select(
                    F.concat(F.lit("CAPEC-"), F.col("ID")).alias("capec_tag"),
                    F.col("ID").alias("capec_id"),
                )
            ),
            F.col("canonical_id") == F.col("capec_tag"),
            "inner",
        )
        .select("url", "capec_id")
    )
    # exact CPE ids: J1 left lookup (dictionary_found flag)
    cpe_exact = (
        mentions.filter(F.col("kind") == "cpe")
        .join(
            F.broadcast(
                dims.cpe.select(
                    F.col("cpeName").alias("_cpeName"),
                    F.col("cpeNameId").alias("cpeNameId"),
                    F.col("lastModified").alias("cpeLastModified"),
                    F.col("titles_lang_lit").alias("titles"),
                )
            ),
            F.col("canonical_id") == F.col("_cpeName"),
            "left",
        )
        .select(
            "url",
            F.coalesce(F.col("_cpeName"), F.col("canonical_id")).alias("cpeName"),
            "cpeNameId",
            "cpeLastModified",
            "titles",
            F.col("_cpeName").isNotNull().alias("dictionary_found"),
        )
    )
    # fuzzy vendor:product mentions resolve to the latest cpeName (found)
    cpe_fuzzy = (
        mentions.filter(F.col("kind") == "vendor_product")
        .join(
            F.broadcast(
                dims.cpe_vp.select(
                    F.col("canonical_id").alias("_vp"),
                    F.col("cpeName"),
                    F.col("cpeNameId"),
                    F.col("lastModified").alias("cpeLastModified"),
                    F.col("titles_lang_lit").alias("titles"),
                )
            ),
            F.col("canonical_id") == F.col("_vp"),
            "inner",
        )
        .select("url", "cpeName", "cpeNameId", "cpeLastModified", "titles",
                F.lit(True).alias("dictionary_found"))
    )
    # duplicates (url, cpeName) across exact/fuzzy carry identical field
    # values (same dictionary row) — the global dedup absorbs them
    m_cpe = cpe_exact.unionByName(cpe_fuzzy)
    out = MentionTables({
        "mentions": mentions,
        "cve": m_cve,
        "cwe": m_cwe,
        "capec": m_capec,
        "cpe": m_cpe,
    })
    out._join_scan = join_scan
    return out


def _dictionary_keys(spark: SparkSession, dims: KgDims,
                     mentions: DataFrame) -> dict[str, set[str]]:
    """The distinct (kind, canonical_id) of the mention stream that name a
    dictionary row, collected: a semi join against a local relation of
    the dims' keys, then one distinct. Its size is bounded by the
    dictionaries whatever the corpus (a CVE-shaped id the dictionary
    lacks matches nothing)."""
    t = dims.tables
    cols = [("cve", t["cve"]["id"], ""), ("cwe", t["cwe"]["id_value"], ""),
            ("capec", t["capec"]["ID"], "CAPEC-"),
            ("attack", t["attack_ents"]["ID"], ""),
            ("d3fend", t["d3fend"]["d3fend_id"], "")]
    pairs = [(kind, prefix + v) for kind, col, prefix in cols
             for v in col.to_pylist() if v is not None]
    keys = spark.createDataFrame(
        pa.table({"kind": [k for k, _ in pairs],
                  "canonical_id": [v for _, v in pairs]}),
        "kind string, canonical_id string")
    rows = (mentions.select("kind", "canonical_id")
            .join(F.broadcast(keys), ["kind", "canonical_id"], "leftsemi")
            .distinct()
            .collect())
    out: dict[str, set[str]] = {kind: set() for kind, _, _ in cols}
    for kind, cid in rows:
        out[kind].add(cid)
    return out


def _dictionary_records(spark: SparkSession, dims: KgDims,
                        keys: dict[str, set[str]]) -> DataFrame:
    """R2, R5, R6, R7 and R8: every dictionary record batch, from the
    driver-held dims filtered by the mentioned keys. Nothing here reads
    the mention cache, and the union runs as one partition: its rows are
    bounded by the dictionaries."""
    from ..sources import dims as S

    t = dims.tables

    def rows(table: pa.Table, hit) -> pa.Table:
        # take, not filter: a filter that keeps nothing returns columns
        # with no chunks, which createDataFrame rejects
        return table.take(pc.indices_nonzero(hit))

    def take(name: str, col: str, ids) -> DataFrame:
        table = t[name]
        hit = pc.is_in(table[col], value_set=pa.array(sorted(ids), pa.string()))
        return S.local_df(spark, name, rows(table, hit))

    # R2 — full CVE records for mentioned, in-dictionary CVEs
    records, cwe_pairs, cpe_pairs = PT.build_cve_stage(
        take("cve", "id", keys["cve"]), dims.cwe, dims.cpe)
    parts = [PT.emit_cve_batch(records, cwe_pairs, cpe_pairs)]
    # R5 — full CWE records for mentioned CWEs
    parts.append(PT.emit_cwe_batch(take("cwe", "id_value", keys["cwe"])))
    # R6 — CAPEC records (canonical_id is "CAPEC-<n>"; the dictionary keys
    # on the bare number)
    parts.append(PT.emit_capec_batch(take(
        "capec", "ID", {k.removeprefix("CAPEC-") for k in keys["capec"]})))

    # R7 — ATT&CK: all 7 typed relationship edges with a mentioned SOURCE
    # OR TARGET, plus entity records for every mentioned id and for both
    # endpoints of each valid edge. The endpoint closure applies the
    # checks of PT.valid_attack_rels (P3 source present, P5 type pair in
    # the catalog as concat_ws('|') keys it, J4 target in the dictionary)
    # to the gated rows on the driver.
    mentioned = keys["attack"]
    rels = t["attack_rels"]
    vs = pa.array(sorted(mentioned), pa.string())
    gated = rows(rels, pc.or_(pc.is_in(rels["source_id"], value_set=vs),
                              pc.is_in(rels["target_id"], value_set=vs)))
    gated_df = S.local_df(spark, "attack_rels", gated)
    parts.append(PT.emit_attack_relationships(dims.attack_ents, gated_df))
    ent_all = set(t["attack_ents"]["ID"].to_pylist())
    type_pairs = {f"{st}|{tt}" for st, tt in T.ATTACK_REL_CATALOG}
    ent_ids = set(mentioned)
    for src, st, tgt, tt in zip(*(gated[c].to_pylist()
                                   for c in S.ATTACK_REL_SCHEMA.names)):
        pair = "|".join(x for x in (st, tt) if x is not None)
        if src is not None and pair in type_pairs and tgt in ent_all:
            ent_ids |= {src, tgt}
    parts.append(PT.emit_attack_entities(take("attack_ents", "ID", ent_ids)))

    # R8 — D3FEND record batch for mentioned, in-dictionary d3fend ids
    # (incl. the _ID stray-quote typo: no _ID triples, d3fend_rml.ttl:29).
    # Mentions carry the d3fend_id column's value.
    parts.append(PT.emit_d3fend_batch(
        take("d3fend", "d3fend_id", keys["d3fend"])))
    return PT._union(parts).coalesce(1)


def build_triples(
    spark: SparkSession, pages: DataFrame, dims: KgDims,
    mention_partitions: int | None = None,
    mentions: MentionTables | None = None,
) -> DataFrame:
    """Stages 4–6: co-mention edges + entity records → repaired, deduped
    triple set (the oracle-parity surface).

    ``mentions``: pass the tables from a prior ``linked_mentions`` call to
    reuse its persisted stage (a fresh call would build new UDF plans that
    miss Spark's cache-by-plan matching and re-run the whole scan). Either
    way the scan barrier is joined before this returns."""
    m = mentions or linked_mentions(spark, pages, dims, mention_partitions)
    m_cve, m_cwe, m_capec, m_cpe = (
        m["cve"], m["cwe"], m["capec"], m["cpe"],
    )

    # TWO HALVES. The mention half (R1, the co-mention edges of R3/R4/R6,
    # the R4 records) reads the mention views, and its plan is built here
    # while the scan runs. The record half (R2, R5–R8) is bounded by the
    # dictionaries: after the barrier one job collects the mentioned
    # dictionary keys (_dictionary_keys), and every record batch is then
    # taken from the driver-held dims, so none of them re-reads the
    # mention cache. Sharing one (kind, id) distinct across the gates as
    # identical subplans does NOT make AQE compute it once on Spark 4.1:
    # exchange reuse never fired for an exchange over a persisted frame
    # (BENCH.md), so each gate re-ran the shuffle and its broadcast. The
    # triple SET is unchanged (parity tests assert set equality).
    sq = PT.sq
    vuln = f"concat({sq(T.UCO_HASH + 'VULN-')}, `cve`)"
    cve_uri = f"concat({sq(T.UCO_HASH)}, `cve`)"
    parts: list[DataFrame] = []

    # R1 — every CVE id mention
    parts.append(PT.emit(m_cve, [
        PT.type_el(vuln, T.CL_VULNERABILITY),
        PT.type_el(cve_uri, T.CL_CVE),
        PT.uri_el(vuln, T.P_HAS_CVE_ID, cve_uri),
    ]))

    # R3 + R4 edges + R6 edges — the three co-mention families share ONE
    # url join + ONE distinct (round 3 ran each as its own join+distinct
    # stage chain). The join is deliberately left to AQE: broadcast at
    # small scale, skew-split at web scale.
    other = (
        m_cwe.select("url", F.lit("cwe").alias("ckind"), F.col("cwe").alias("val"))
        .unionByName(m_cpe.select(
            "url", F.lit("cpe").alias("ckind"), F.col("cpeName").alias("val")))
        .unionByName(m_capec.select(
            "url", F.lit("capec").alias("ckind"),
            F.col("capec_id").cast("string").alias("val")))
    )
    co_pairs = m_cve.join(other, "url").select("ckind", "cve", "val").distinct()
    et_p = f"concat({sq(T.UCO_HASH + 'ExploitTarget-')}, `val`)"
    cwe_p = f"concat({sq(T.UCO_HASH)}, `val`)"
    cpe_p = f"concat({sq(T.EX_HASH)}, `val`)"
    capec_p = "concat('https://capec.mitre.org/data/definitions/', `val`, '.html')"
    cwe_els = ", ".join([
        PT.type_el(et_p, T.CL_EXPLOIT_TARGET),
        PT.type_el(vuln, T.CL_VULNERABILITY),
        PT.type_el(cwe_p, T.CL_CWE),
        PT.uri_el(et_p, T.P_HAS_VULNERABILITY, vuln),
        PT.uri_el(et_p, T.P_HAS_WEAKNESS, cwe_p),
    ])
    cpe_els = ", ".join([
        PT.uri_el(cve_uri, T.P_HAS_CPE, cpe_p),
        PT.type_el(cpe_p, T.CL_CPE),
    ])
    capec_els = ", ".join([
        PT.uri_el(capec_p, P_EXPLOITS, vuln),
        PT.type_el(vuln, T.CL_VULNERABILITY),
    ])
    co_arr = (
        f"(CASE WHEN `ckind` = 'cwe' THEN array({cwe_els})"
        f" WHEN `ckind` = 'cpe' THEN array({cpe_els})"
        f" ELSE array({capec_els}) END)"
    )
    parts.append(PT.emit(co_pairs, [], [co_arr]))

    # R4 records — CPE records for linked mentions
    cpe_records = m_cpe.drop("url").dropDuplicates(["cpeName"])
    rec_uri = f"concat({sq(T.EX_HASH)}, `cpeName`)"
    parts.append(PT.emit(cpe_records, PT.cpe_record_elements(rec_uri)))

    # join the scan barrier (started by linked_mentions while the plan
    # above was built) before running the key job or handing any plan to
    # the caller: an action must never race the cache population
    m.join_barrier()
    keys = _dictionary_keys(spark, dims, m["mentions"])
    parts.append(_dictionary_records(spark, dims, keys))
    return PT.repair_and_dedup(PT._union(parts))


def materialize_graph(triples: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Final property-graph tables (S10 analog — the Neo4j n10s load
    becomes partitioned nodes/edges tables).

    nodes(uri, labels, props) — labels = collect_set of rdf:type objects;
    props = map of literal predicate → sorted ARRAY of values: multi-valued
    literals (multi-language ucosummary, repeated descriptions) survive
    intact, matching n10s array-property semantics
    (/root/reference/neo4j/import/init.cypher:1-20). Round 1 took min(obj)
    per predicate and silently dropped the rest.
    edges(subj, pred, obj) — URI-object triples, pred-partitionable.

    The triple set is the one fan-out point of a build: both tables derive
    from it, so it passes through ``reuse`` and is computed once, not once
    per table write. The caller releases it with ``triples.unpersist()``
    (on a cluster master ``reuse`` persisted that very frame; in local mode
    the call is a no-op). Reuse here is safe only because ``build_triples``
    has already joined the scan barrier: under AQE a ``localCheckpoint``
    runs the plan's query stages when it is called (the reason
    ``linked_mentions`` rejects it for the scan), and with the barrier
    joined nothing is left to overlap, so running the emission here costs
    nothing.
    """
    triples = reuse(triples)
    edges = (
        triples.filter(~F.col("obj_is_literal") & (F.col("pred") != T.RDF_TYPE))
        .select("subj", "pred", "obj")
    )
    # one grouping by (subj, pred), then one by subj, both behind the one
    # shuffle on subj: labels are the rdf:type objects (literal or not),
    # props the literal objects per predicate, so a literal rdf:type
    # triple lands in both
    is_type = F.col("pred") == T.RDF_TYPE
    per_pred = (
        triples.filter(is_type | F.col("obj_is_literal"))
        .repartition("subj")
        .groupBy("subj", "pred")
        .agg(F.sort_array(F.collect_set(F.when(is_type, F.col("obj"))))
             .alias("types"),
             F.sort_array(F.collect_set(F.when(F.col("obj_is_literal"),
                                               F.col("obj"))))
             .alias("vals"))
    )
    nodes = per_pred.groupBy(F.col("subj").alias("uri")).agg(
        F.coalesce(F.max(F.when(is_type, F.col("types"))),
                   F.array().cast("array<string>")).alias("labels"),
        F.map_from_entries(F.sort_array(F.collect_list(F.when(
            F.size("vals") > 0, F.struct("pred", "vals"))))).alias("props"),
    )
    return nodes, edges
