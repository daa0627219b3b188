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
    it and nothing needs materializing before it is broadcast."""

    def __init__(self, spark: SparkSession):
        from ..fixtures import dicts as D
        from ..sources import dims as S

        self.cve = S.dim_cve(spark)
        self.cwe = S.dim_cwe(spark)
        self.cpe = S.dim_cpe(spark)
        self.cpe_vp = S.dim_cpe_by_vendor_product(spark)
        self.attack_ents, self.attack_rels = S.dim_attack(spark)
        self.capec = S.dim_capec(spark)
        self.d3fend = S.dim_d3fend(spark)
        self.alias_rows = D.alias_table()


class MentionTables(dict):
    """Per-kind mention DataFrames keyed by kind (plus ``mentions``).

    Built with ``defer_barrier=True``, the scan materializes in a
    background thread: callers MUST invoke :meth:`join_barrier` before
    triggering any downstream action (``build_triples`` does). The method
    is explicit and idempotent — it joins the scan thread, re-raises any
    scan error, and materializes the per-kind caches; a second call is a
    no-op. (Replaces a magic ``"_barrier"`` dict key that callers could
    silently forget, swallowing scan errors.)"""

    _barrier_fn = None

    def join_barrier(self) -> None:
        fn, self._barrier_fn = self._barrier_fn, None
        if fn is not None:
            fn()

    def unpersist(self) -> None:
        """Release the cached mention stream and per-kind tables (a no-op
        for the lazy ones): a long-lived driver that links repeatedly
        accumulates cache blocks otherwise."""
        for df in self.values():
            df.unpersist()


def linked_mentions(
    spark: SparkSession, pages: DataFrame, dims: KgDims,
    mention_partitions: int | None = None,
    defer_barrier: bool = False,
    raw_mentions: DataFrame | None = None,
) -> "MentionTables":
    """Stages 1–3: extract, detect, link.

    ``raw_mentions``: a precomputed mention stream (url, kind, token,
    canonical_id) — e.g. the incrementally-maintained mention store of
    ``plans/incremental.py`` — replayed through the exact same linking
    derivation instead of re-scanning pages; ``pages`` is ignored. The
    scan is the corpus-sized cost, the linking is mention-sized.

    SHUFFLE BUDGET: the mention stream is persisted once; every per-kind
    table below is a narrow filter + broadcast join (zero exchanges). The
    co-mention pair joins in build_triples shuffle on url — and are LEFT TO
    AQE on purpose: at small scale AQE converts them to broadcast joins and
    coalesces the tiny post-shuffle partitions; at web scale it splits
    skewed url partitions. A static repartition(url) here (measured) pins
    the plan to fixed-width sort-merge joins and forfeits both adaptations.
    Mention rows are deliberately NOT deduplicated (a page may mention the
    same id twice): every consumer is a semi join, a pair-distinct, or the
    global A1 dedup — re-deduplicating here would be a wasted shuffle.

    The per-kind tables are plain ``persist()``-ed. (A localCheckpoint
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
    # bottleneck — 15 branches × input partitions tasks otherwise)
    if mention_partitions:
        mentions = mentions.repartition(mention_partitions)
    mentions = mentions.persist()

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
    # any entity kind links (R7 full catalog): groups, software, campaigns,
    # mitigations, tactics — not just techniques
    ent_ids = dims.attack_ents.select(F.col("ID").alias("att_id"))
    m_attack = (
        mentions.filter(F.col("kind") == "attack")
        .join(F.broadcast(ent_ids), F.col("canonical_id") == F.col("att_id"), "inner")
        .select("url", "att_id")
    )
    # d3fend ids link through the d3fend-id column of the dictionary (R8)
    m_d3fend = (
        mentions.filter(F.col("kind") == "d3fend")
        .join(
            F.broadcast(dims.d3fend.select(
                F.col("d3fend_id").alias("_did"), F.col("id").alias("d3_id"))),
            F.col("canonical_id") == F.col("_did"),
            "inner",
        )
        .select("url", "d3_id")
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
        "attack": m_attack,
        "d3fend": m_d3fend,
        "cpe": m_cpe,
    })
    # each per-kind table feeds 2-5 emission branches; persisting them (they
    # are mention-sized, tiny relative to pages) lets every branch read a
    # materialized cache instead of re-driving its own broadcast exchange.
    # attack/d3fend are NOT persisted: build_triples gates those record
    # batches on the shared mention-id distinct instead (the tables remain
    # constructible for direct callers, just lazy).
    kinds = ("cve", "cwe", "capec", "cpe")
    # per-kind tables are each a ~1/6 filter of the mention stream; caching
    # them at the full mention partition count makes EVERY downstream probe
    # stage pay the full task fan-out for a fraction of the rows. Partition
    # them proportionally to their share (floor 2 keeps parallelism for
    # skewed kinds) — coalesce is narrow, so no extra shuffle; at any scale
    # the per-kind per-partition row count stays ~the mention table's.
    kp = max(2, mention_partitions // 4) if mention_partitions else None
    for k in kinds:
        out[k] = (out[k].coalesce(kp) if kp else out[k]).persist()

    # Materialize the mention cache AND the per-kind caches BEFORE any
    # downstream action. Downstream, AQE materializes the R7/R8 broadcast
    # query stages CONCURRENTLY and independently; if a cache is still lazy
    # at that point, each racing stage recomputes the full extract+scan
    # kernel for partitions whose cache block isn't populated yet —
    # measured as a ~2× wall regression at 8 cores (and worse with more
    # cores: more concurrent stages, more duplicated scans).
    #
    # With defer_barrier=True the materializing runs in a background
    # thread behind MentionTables.join_barrier(): the caller
    # constructs its (large, py4j-round-trip-heavy — measured ~4.5 s of
    # driver-serial time) downstream plan WHILE executors run the scan,
    # and joins the barrier before triggering any action. That driver
    # time is core-count-independent, so hiding it behind the scan buys
    # wall time at every cluster size and strong-scaling efficiency.
    import threading

    def _store_kinds():
        """Materialize the per-kind caches, all kinds in parallel
        (independent reads of the mention cache — concurrent Spark jobs).
        Serial, these 6 queries cost ~7 s at bench scale; in parallel ~2 s.
        Must run AFTER the mention cache is populated (racing the scan
        would duplicate the extract+scan kernel per racing stage)."""
        errs: list[BaseException] = []

        def _one(k):
            try:
                out[k].count()  # populates this kind's cache blocks
            except BaseException as e:
                errs.append(e)

        ts = [threading.Thread(target=_one, args=(k,), daemon=True)
              for k in kinds]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        if errs:
            # surface EVERY failed kind, not just the first: concurrent
            # failures can have different root causes and hiding five of
            # six masks the real one
            primary = errs[0]
            for extra in errs[1:]:
                primary.add_note(
                    f"additional concurrent kind-cache failure: "
                    f"{type(extra).__name__}: {extra}"
                )
            raise primary

    if defer_barrier:
        err: list[BaseException] = []

        def _scan():
            try:
                mentions.count()
            except BaseException as e:  # re-raised at the barrier
                err.append(e)

        t = threading.Thread(target=_scan, daemon=True)
        t.start()

        def barrier():
            # join the scan first: only the plain count runs concurrently
            # with the caller's py4j-heavy plan construction (low driver
            # involvement); the Catalyst-heavy checkpoint queries run only
            # after construction is done, avoiding driver-lock contention
            # (measured: running them inside this background thread cost
            # ~20 s extra wall at local[32]).
            t.join()
            if err:
                raise err[0]
            _store_kinds()

        out._barrier_fn = barrier
    else:
        mentions.count()
        _store_kinds()
    return out


def build_triples(
    spark: SparkSession, pages: DataFrame, dims: KgDims,
    mention_partitions: int | None = None,
    mentions: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Stages 4–6: co-mention edges + entity records → repaired, deduped
    triple set (the oracle-parity surface).

    ``mentions``: pass the dict from a prior ``linked_mentions`` call to
    reuse its persisted stage (a fresh call would build new UDF plans that
    miss Spark's cache-by-plan matching and re-run the whole scan)."""
    m = mentions or linked_mentions(
        spark, pages, dims, mention_partitions, defer_barrier=True,
    )
    m_cve, m_cwe, m_capec, m_cpe = (
        m["cve"], m["cwe"], m["capec"], m["cpe"],
    )

    # STAGE-DEPTH BUDGET (the round-3 AQE-latency thread): at small scale
    # AQE materializes each upstream shuffle/broadcast query stage in
    # sequence, so the emission DAG's wall tracks its STAGE COUNT, not its
    # row count. Round 3 paid one distinct shuffle per dictionary gate
    # (4×), one url-join + distinct per co-mention family (3×), and two
    # ATT&CK entity emits with separate distincts — ~15 stages. This shape
    # fuses them: ONE shared (kind, id) distinct feeds every dictionary
    # gate (identical subplans → Catalyst/AQE exchange reuse computes the
    # shuffle once), ONE url join + ONE distinct serves all three
    # co-mention families (per-kind CASE element arrays, single explode),
    # and ONE union-distinct serves both ATT&CK entity id sets. The triple
    # SET is unchanged (parity tests assert set equality).

    # shared distinct mention-id table. Ids here are NOT yet
    # dictionary-validated (the per-kind tables are) — every consumer is a
    # semi join against the dictionary, where invalid ids simply match
    # nothing, so validation is free and the distinct count stays bounded
    # by |dictionary| + |regex-shaped tokens in corpus| per kind.
    mid = m["mentions"].select("kind", "canonical_id").distinct()
    # ONE shared broadcast for every dictionary gate: each gate used to
    # broadcast its own per-kind projection of mid (4-5 separate broadcast
    # exchanges = 4-5 extra AQE stages). Folding the kind into a composite
    # equi-key — concat('<kind>:', dict_col) == concat(kind, ':',
    # canonical_id) — keeps the condition two-sided, so the optimizer
    # cannot push a kind filter into the build side, every consumer
    # broadcasts the IDENTICAL plan, and Catalyst/AQE reuse a single
    # exchange. ':' cannot appear inside a kind name, so the composite
    # key is unambiguous. Semantics per gate are unchanged (semi join on
    # the same (kind, id) match set).
    mid_b = F.broadcast(mid.select(
        F.concat(F.col("kind"), F.lit(":"), F.col("canonical_id"))
        .alias("_mid_key")))

    def gate(dim: DataFrame, kind: str, col_expr) -> DataFrame:
        """dim rows whose (kind, id) was mentioned — one reused broadcast."""
        return dim.join(
            mid_b,
            F.concat(F.lit(kind + ":"), col_expr) == F.col("_mid_key"),
            "leftsemi",
        )

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

    # R2 — full CVE records for mentioned, in-dictionary CVEs
    # (semi joins dedup inherently — no distinct on the mention side;
    # the CVE gate stays a JOIN, not a broadcast id set: CVE ids are
    # regex-canonical, not dictionary-validated, so their distinct count
    # is corpus-driven.)
    mentioned_cve_dim = dims.cve.join(
        m_cve.select(F.col("cve").alias("id")), "id", "leftsemi"
    )
    records, cwe_pairs, cpe_pairs = PT.build_cve_stage(
        mentioned_cve_dim, dims.cwe, dims.cpe
    )
    parts.append(PT.emit_cve_batch(records, cwe_pairs, cpe_pairs))

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

    # R5 — full CWE records for mentioned CWEs. The mention-id set is
    # dictionary-bounded after the semi join, so an explicit broadcast
    # replaces a two-shuffle sort-merge semi-join with a map-side probe.
    parts.append(PT.emit_cwe_batch(gate(dims.cwe, "cwe", F.col("id_value"))))

    # R6 records — CAPEC records for mentioned ids (canonical_id is
    # "CAPEC-<n>"; the dictionary keys on the bare number)
    parts.append(PT.emit_capec_batch(
        gate(dims.capec, "capec",
             F.concat(F.lit("CAPEC-"), F.col("ID")))
    ))

    # R7 — ATT&CK: all 7 typed relationship edges with a mentioned SOURCE
    # OR TARGET, plus entity records for every mentioned id and for both
    # endpoints of each emitted edge — ONE id union + ONE distinct + ONE
    # emit (round 3 emitted mentioned and endpoint entities separately).
    # mentioned_att is bounded by the ATT&CK dictionary at any corpus size.
    mentioned_att = mid.filter(F.col("kind") == "attack").select(
        F.col("canonical_id").alias("ID"))
    rels = dims.attack_rels
    gated_rels = gate(rels, "attack", F.col("source_id")).unionByName(
        gate(rels, "attack", F.col("target_id"))
    )  # a rel with both endpoints mentioned appears twice — the global
    # A1 dedup absorbs the duplicate triples
    parts.append(PT.emit_attack_relationships(dims.attack_ents, gated_rels))
    valid_gated = PT.valid_attack_rels(dims.attack_ents, gated_rels)
    ent_ids = (
        mentioned_att
        .unionByName(valid_gated.select(F.col("source_id").alias("ID")))
        .unionByName(valid_gated.select(F.col("target_id").alias("ID")))
        .distinct()
    )
    parts.append(PT.emit_attack_entities(
        dims.attack_ents.join(F.broadcast(ent_ids), "ID", "leftsemi")
    ))

    # R8 — D3FEND record batch for mentioned, in-dictionary d3fend ids
    # (incl. the _ID stray-quote typo: no _ID triples, d3fend_rml.ttl:29).
    # Mentions carry the d3fend_id column's value, so the gate semi-joins
    # on d3fend_id directly (equivalent to round 3's d3_id gate: the
    # dictionary row is identified either way).
    parts.append(PT.emit_d3fend_batch(
        gate(dims.d3fend, "d3fend", F.col("d3fend_id"))
    ))

    result = PT.repair_and_dedup(PT._union(parts))
    # join the scan-materialization barrier (started by linked_mentions
    # while this plan was being constructed) before handing the plan to the
    # caller: an action on `result` must never race the cache population.
    # (A plain dict passed via ``mentions`` was built eagerly — no barrier.)
    if isinstance(m, MentionTables):
        m.join_barrier()
    return result


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
    labels = (
        triples.filter(F.col("pred") == T.RDF_TYPE)
        .groupBy(F.col("subj").alias("uri"))
        .agg(F.sort_array(F.collect_set("obj")).alias("labels"))
    )
    props = (
        triples.filter(F.col("obj_is_literal"))
        .groupBy("subj", "pred")
        .agg(F.sort_array(F.collect_set("obj")).alias("vals"))
        .groupBy(F.col("subj").alias("uri"))
        .agg(F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("pred", "vals")))
        ).alias("props"))
    )
    nodes = labels.join(props, "uri", "full").select(
        "uri",
        F.coalesce("labels", F.array().cast("array<string>")).alias("labels"),
        F.coalesce(
            "props", F.map_from_arrays(F.array().cast("array<string>"),
                                       F.array().cast("array<array<string>>"))
        ).alias("props"),
    )
    return nodes, edges
