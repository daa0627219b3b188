"""Triple emission as Catalyst plans — the RML mapper, re-expressed.

Every emitter mirrors an oracle emitter in uckg_spark.oracle.emitters
(set-equality tested on fixtures). Declarative DataFrame ops only: the
emission is explode + project + filter + union — no Python in the row path
(SURVEY.md §4: everything Catalyst-visible).

PLAN SHAPE: each source table contributes ONE generate (explode) over a
single array<struct<subj,pred,obj,lit,dt>> built per row — types, literal
predicates, and URI edges together. A per-predicate union (the naive
translation) costs ~35 scan branches and thousands of micro-tasks; the
single-explode form keeps the whole batch at ~10 branches, which is what
amortizes on a 1000-executor cluster where stage setup is the fixed cost.

Semantics notes (shared with the oracle, see oracle/emitters.py docstring):
null ⇒ no triple AND "" ⇒ no triple (P7); booleans always emit;
ucorelatedWeakness never emits (dual RML typo); F3 repair drops the whole
fraction of >3-digit dateTime literals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernel import templates as T

TRIPLE_COLS = ["subj", "pred", "obj", "obj_is_literal", "obj_datatype"]

_TRIPLE_STRUCT_SQL = "struct<subj:string,pred:string,obj:string,lit:boolean,dt:string>"

# The element builders generate SQL TEXT, compiled by ONE F.expr call per
# emitted array. The round-3 Column-based forms were semantically identical
# but made ~30 Py4J round-trips per element (~21k per build_triples call,
# 5.7 s of socket chatter measured under cProfile — more than the emission
# itself executes in). The SQL text parses JVM-side in milliseconds and
# analyzes to the same Catalyst expression trees, so plan shape, parity,
# and oracle agreement are untouched; only the Python-side construction
# cost changes. Subjects/objects are SQL expression strings; ``raw`` marks
# a pred/cls argument that is an expression rather than a constant.


def sq(s: str) -> str:
    """SQL single-quoted string literal (backslash-escaping parser form)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


class raw(str):
    """Marks a pred/cls argument as a ready SQL expression; a plain str is
    treated as a constant and quoted."""


def _el(subj: str, pred: str, obj: str, lit: bool, dt: str | None) -> str:
    """One triple as a named_struct SQL fragment."""
    p = pred if isinstance(pred, raw) else sq(pred)
    dt_sql = f"cast({sq(dt)} as string)" if dt is not None else "cast(null as string)"
    return (
        f"named_struct('subj', cast(({subj}) as string), "
        f"'pred', cast(({p}) as string), "
        f"'obj', cast(({obj}) as string), "
        f"'lit', {'true' if lit else 'false'}, "
        f"'dt', {dt_sql})"
    )


def lit_el(subj: str, pred: str | raw, obj: str, dt: str = T.XSD_STRING) -> str:
    return _el(subj, pred, obj, True, dt)


def uri_el(subj: str, pred: str | raw, obj: str) -> str:
    return _el(subj, pred, obj, False, None)


def type_el(subj: str, cls: str | raw) -> str:
    obj = cls if isinstance(cls, raw) else sq(cls)
    return _el(subj, T.RDF_TYPE, obj, False, None)


def bool_col(c: str) -> str:
    return f"(CASE WHEN {c} THEN 'true' ELSE 'false' END)"


def emit(df: DataFrame, elements: list[str],
         element_arrays: list[str] | None = None) -> DataFrame:
    """ONE explode per table: singles + optional array-of-struct SQL
    fragments (from transform() over array fields) flattened together. P7
    filter applied uniformly: null subj/obj never emit; empty-string
    literal objects never emit."""
    empty = f"cast(array() as array<{_TRIPLE_STRUCT_SQL}>)"
    parts = [f"array({', '.join(elements)})"] if elements else []
    parts += [f"coalesce(({a}), {empty})" for a in (element_arrays or [])]
    arr = parts[0] if len(parts) == 1 else f"concat({', '.join(parts)})"
    return (
        df.select(F.explode(F.expr(arr)).alias("t"))
        .where("t.subj IS NOT NULL AND t.obj IS NOT NULL"
               " AND (NOT t.lit OR t.obj != '')")
        .selectExpr(
            "t.subj AS subj", "t.pred AS pred", "t.obj AS obj",
            "t.lit AS obj_is_literal", "t.dt AS obj_datatype",
        )
    )


def _union(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


# ---------------------------------------------------------------------------
# F2 / F3 datetime expressions (kernel parity: kernel/datetimes.py)
# ---------------------------------------------------------------------------


def format_datetime_col(c: Column) -> Column:
    """F2: "D H:M:S.ffffff" → "DTH:M:S.fff" (keep FIRST ≤3 fractional
    digits) — cve_collection.py:208-221."""
    return F.regexp_replace(c, r"^(\S+) ([^.]+)\.(\d{1,3})\d*$", "$1T$2.$3")


def repair_and_dedup(triples: DataFrame) -> DataFrame:
    """F3 (ontology_updater.py:19-23: WHOLE fraction dropped when >3
    digits) + A1 global set dedup (rdflib Graph semantics)."""
    fixed = F.when(
        F.col("obj_datatype") == T.XSD_DATETIME,
        F.regexp_replace(F.col("obj"), r"\.\d{4,}$", ""),
    ).otherwise(F.col("obj"))
    return triples.withColumn("obj", fixed).dropDuplicates(
        ["subj", "pred", "obj", "obj_is_literal", "obj_datatype"]
    )


# ---------------------------------------------------------------------------
# CVE batch — record build (P1/P6/P9/P10/J1/F2) + emission (cve_rml.ttl)
# ---------------------------------------------------------------------------


def build_cve_stage(
    cve_dim: DataFrame, cwe_dim: DataFrame, cpe_dim: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (records, cwe_pairs, cpe_pairs) — the collector's projection
    (cve_collection.py:380-446) as Catalyst plans:

    - P10 truncation: configurations after the first structurally-invalid
      one (empty nodes / empty cpeMatch) are dropped via higher-order
      functions — no Python, no explode until the valid prefix is known.
    - P9 first-match: nodes[0].cpeMatch[0] via F.get (null-safe under the
      Spark 4 ANSI default).
    - P6 membership: broadcast join on TRIM(value) == id_value, original
      value kept (the strip-check/emit-original quirk, :384-389).
    - J1 dictionary lookup: broadcast LEFT join, dictionary_found flag
      (:396-420). Miss rows carry only cpeName (+flag), like the
      reference's minimal struct.
    """
    invalid_flags = F.transform(
        "configurations",
        lambda c: (F.size(c) == 0) | (F.size(F.get(c, 0)) == 0),
    )
    pos = F.array_position(invalid_flags, F.lit(True))
    first_invalid = F.when(pos == 0, F.size("configurations") + 1).otherwise(pos)

    records = (
        cve_dim.withColumn("_first_invalid", first_invalid)
        .withColumn(
            "valid_criteria",
            F.filter(
                F.transform(
                    F.filter(
                        F.transform(
                            "configurations",
                            lambda c, i: F.struct(c.alias("cfg"), i.alias("idx")),
                        ),
                        lambda s: s["idx"] < F.col("_first_invalid") - 1,
                    ),
                    lambda s: F.get(F.get(s["cfg"], 0), 0),
                ),
                lambda crit: crit.isNotNull() & (crit != ""),
            ),
        )
        .withColumn("published", format_datetime_col(F.col("published_raw")))
        .withColumn("lastModified", format_datetime_col(F.col("lastModified_raw")))
        .drop("_first_invalid")
    )

    cwe_pairs = (
        records.select(F.col("id").alias("cve_id"), F.explode("weakness_values").alias("wv"))
        .join(
            F.broadcast(cwe_dim.select(F.col("id_value").alias("_cwe_id"))),
            F.trim(F.col("wv")) == F.col("_cwe_id"),
            "inner",
        )
        .select("cve_id", F.col("wv").alias("cwe_value"))
    )

    cpe_pairs = (
        records.select(F.col("id").alias("cve_id"), F.explode("valid_criteria").alias("criteria"))
        .join(
            F.broadcast(
                cpe_dim.select(
                    F.col("cpeName").alias("_cpeName"),
                    F.col("cpeNameId").alias("_cpeNameId"),
                    F.col("lastModified").alias("_lastModified"),
                    F.col("titles_lang_lit").alias("_titles"),
                )
            ),
            F.col("criteria") == F.col("_cpeName"),
            "left",
        )
        .select(
            "cve_id",
            F.coalesce(F.col("_cpeName"), F.col("criteria")).alias("cpeName"),
            F.col("_cpeNameId").alias("cpeNameId"),
            F.col("_lastModified").alias("cpeLastModified"),
            F.col("_titles").alias("titles"),
            F.col("_cpeName").isNotNull().alias("dictionary_found"),
        )
    )
    return records, cwe_pairs, cpe_pairs


def cpe_record_elements(subj: str) -> list[str]:
    """CPEMap datatype predicates (cve_rml.ttl:146-194) over a pair/record
    table with columns cpeName/cpeNameId/cpeLastModified/titles/
    dictionary_found — shared by the dictionary batch and R4."""
    return [
        type_el(subj, T.CL_CPE),
        lit_el(subj, T.P_CPE_NAME, "`cpeName`"),
        lit_el(subj, T.P_CPE_NAME_ID, "`cpeNameId`"),
        lit_el(subj, T.P_CPE_LAST_MODIFIED, "`cpeLastModified`", T.XSD_DATETIME),
        lit_el(subj, T.P_CPE_TITLES, "`titles`", T.RDF_JSON),
        lit_el(subj, T.P_DICTIONARY_FOUND, bool_col("`dictionary_found`"), T.XSD_BOOLEAN),
    ]


def emit_cve_batch(
    records: DataFrame, cwe_pairs: DataFrame, cpe_pairs: DataFrame
) -> DataFrame:
    """mapping/cve/cve_rml.ttl — all five TriplesMaps, four explodes."""
    vuln = f"concat({sq(T.UCO_HASH + 'VULN-')}, `id`)"
    cve = f"concat({sq(T.UCO_HASH)}, `id`)"

    # VULMap + CVEMap scalar predicates + summaries (descriptions array
    # flattened in the SAME explode via transform)
    rec_part = emit(
        records,
        [
            type_el(vuln, T.CL_VULNERABILITY),
            type_el(cve, T.CL_CVE),
            lit_el(vuln, T.P_PUBLISHED, "`published`", T.XSD_DATETIME),
            lit_el(vuln, T.P_LAST_MODIFIED, "`lastModified`", T.XSD_DATETIME),
            uri_el(vuln, T.P_HAS_CVE_ID, cve),
            lit_el(cve, T.RDFS_LABEL, "`id`"),
            lit_el(cve, T.P_VULN_STATUS, "`vulnStatus`"),
            lit_el(cve, T.P_VECTOR_STRING, "`vectorString`"),
            lit_el(cve, T.P_BASE_SEVERITY, "`baseSeverity`"),
            lit_el(cve, T.P_EXPLOITABILITY, "`exploitabilityScore`"),
            lit_el(cve, T.P_IMPACT, "`impactScore`"),
            lit_el(cve, T.P_OBTAIN_ALL_PRIV, bool_col("`obtainAllPrivilege`"), T.XSD_BOOLEAN),
            lit_el(cve, T.P_USER_INTERACTION, bool_col("`userInteractionRequired`"), T.XSD_BOOLEAN),
            lit_el(cve, T.P_EVALUATOR_SOLUTION, "`evaluatorSolution`"),
        ],
        [f"transform(`descriptions`, d -> {lit_el(vuln, T.P_SUMMARY, 'd.value')})"],
    )

    cve_of_pair = f"concat({sq(T.UCO_HASH)}, `cve_id`)"
    cpe_uri = f"concat({sq(T.EX_HASH)}, `cpeName`)"
    cpe_part = emit(cpe_pairs, [
        uri_el(cve_of_pair, T.P_HAS_CPE, cpe_uri),  # :72-78
        *cpe_record_elements(cpe_uri),  # :146-194
    ])

    et = f"concat({sq(T.UCO_HASH + 'ExploitTarget-')}, `cwe_value`)"
    cwe_uri = f"concat({sq(T.UCO_HASH)}, `cwe_value`)"
    vuln_of_pair = f"concat({sq(T.UCO_HASH + 'VULN-')}, `cve_id`)"
    cwe_part = emit(cwe_pairs, [
        # CWEMap + CWETypeMap (:197-236)
        type_el(et, T.CL_EXPLOIT_TARGET),
        type_el(vuln_of_pair, T.CL_VULNERABILITY),
        type_el(cwe_uri, T.CL_CWE),
        uri_el(et, T.P_HAS_VULNERABILITY, vuln_of_pair),
        uri_el(et, T.P_HAS_WEAKNESS, cwe_uri),
    ])
    return _union([rec_part, cpe_part, cwe_part])


# ---------------------------------------------------------------------------
# CWE batch (mapping/cwe/cwe_rml.ttl)
# ---------------------------------------------------------------------------

CWE_LIT_PLAN: list[tuple[str, str, str]] = [
    (T.P_CWE_DESCRIPTION, "description", T.XSD_STRING),
    (T.P_CWE_ID, "id_value", T.XSD_STRING),
    (T.P_COMMON_CONSEQUENCES, "common_consequences", T.XSD_STRING),
    (T.P_TIME_OF_INTRODUCTION, "time_of_introduction", T.XSD_DATETIME),
    (T.P_CWE_SUMMARY, "summary", T.XSD_STRING),
    (T.P_CWE_EXT_SUMMARY, "extended_summary", T.XSD_STRING),
    (T.P_CWE_NAME, "name", T.XSD_STRING),
    (T.P_APPLICABLE_PLATFORM, "applicable_platforms", T.XSD_STRING),
    (T.P_MODES_OF_INTRODUCTION, "modes_of_introduction", T.XSD_STRING),
    (T.P_LIKELIHOOD_OF_EXPLOIT, "likelihood_of_exploit", T.XSD_STRING),
    (T.P_DETECTION_METHODS, "detection_methods", T.XSD_STRING),
    (T.P_POTENTIAL_MITIGATIONS, "potential_mitigations", T.XSD_STRING),
    (T.P_DEMONSTRATIVE_EXAMPLES, "demonstrative_examples", T.XSD_STRING),
    (T.P_REFERENCES, "references", T.XSD_STRING),
    (T.P_MAPPING_NOTES, "mapping_notes", T.XSD_STRING),
    (T.P_RELATED_ATTACK_PATTERNS, "related_attack_patterns_lit", T.XSD_STRING),
    (T.P_ABSTRACTION, "abstraction", T.XSD_STRING),
    (T.P_STRUCTURE, "structure", T.XSD_STRING),
    (T.P_STATUS, "status", T.XSD_STRING),
]
# NOTE: no ucorelatedWeakness entry — dual RML typo (cwe_rml.ttl:152, :160
# vs collector key cwe_collection.py:381); the reference emits nothing.


def emit_cwe_batch(cwe_dim: DataFrame) -> DataFrame:
    et = f"concat({sq(T.UCO_HASH + 'ExploitTarget-')}, `id_value`)"
    cwe_uri = f"concat({sq(T.UCO_HASH)}, `id_value`)"

    ex_uri = f"concat({sq(T.EX_HASH)}, e.cwe_id, '-', e.Reference)"
    ex_cve_uri = f"concat({sq(T.UCO_HASH)}, e.Reference)"
    obs_el = "array(" + ", ".join([
        type_el(ex_uri, T.CL_OBSERVED_EXAMPLE),  # :27-28
        type_el(ex_cve_uri, T.CL_CVE),  # :41
        lit_el(ex_uri, T.P_OBS_DESCRIPTION, "e.Description"),  # :31
        uri_el(ex_uri, T.P_EXAMPLE_OBSERVED_IN, ex_cve_uri),  # :38-40
        uri_el(cwe_uri, T.P_HAS_OBSERVED_EXAMPLE, ex_uri),  # :272-275
    ]) + ")"

    return emit(
        cwe_dim,
        [
            type_el(et, T.CL_EXPLOIT_TARGET),  # :54-57
            type_el(cwe_uri, T.CL_CWE),  # :67-70
            # J3 self-join on id_value is identity — emitted directly (:74-83)
            uri_el(et, T.P_HAS_WEAKNESS, cwe_uri),
        ]
        + [lit_el(cwe_uri, p, f"`{f}`", dt) for (p, f, dt) in CWE_LIT_PLAN],
        # null observed_examples → null array → coalesced inside emit()
        [f"flatten(transform(`observed_examples`, e -> {obs_el}))"],
    )


# ---------------------------------------------------------------------------
# ATT&CK batch (mapping/attack/attack_rml.ttl)
# ---------------------------------------------------------------------------


def emit_attack_entities(ent_df: DataFrame) -> DataFrame:
    uri = f"concat({sq(T.EX_HASH)}, `ID`)"
    cls_map = ", ".join(
        f"{sq(k)}, {sq(v)}" for k, v in T.ATTACK_ENTITY_CLASS.items()
    )
    cls = raw(f"try_element_at(map({cls_map}), `kind`)")
    return emit(ent_df, [
        type_el(uri, cls),
        lit_el(uri, T.P_EX_NAME, "`name`"),
        lit_el(uri, T.P_EX_DESCRIPTION, "`description`"),
        lit_el(uri, T.P_EX_URL, "`url`"),
        lit_el(uri, T.P_EX_DOMAIN, "`domain`"),
    ])


def valid_attack_rels(ent_df: DataFrame, rel_df: DataFrame) -> DataFrame:
    """Relationship rows that survive the RML gauntlet, annotated with
    (pred, subj_cls): P3 null-source drop, P5 catalog type-pair filter,
    J4 inner join validating the target FK (attack_rml.ttl:253-403)."""
    pred_map = F.create_map(*[
        F.lit(x)
        for (st, tt), (pred, _sc, _tc) in T.ATTACK_REL_CATALOG.items()
        for x in (st + "|" + tt, pred)
    ])
    subj_cls_map = F.create_map(*[
        F.lit(x)
        for (st, tt), (_p, subj_cls, _tc) in T.ATTACK_REL_CATALOG.items()
        for x in (st + "|" + tt, subj_cls)
    ])
    pair = F.concat_ws("|", "source_type", "target_type")
    return (
        rel_df.filter(F.col("source_id").isNotNull())  # P3 (parse.py:231-234)
        .withColumn("pred", F.try_element_at(pred_map, pair))
        .withColumn("subj_cls", F.try_element_at(subj_cls_map, pair))
        .filter(F.col("pred").isNotNull())  # P5 type-pair predicate
        .join(
            F.broadcast(ent_df.select(F.col("ID").alias("_tid"))),
            F.col("target_id") == F.col("_tid"),
            "inner",  # J4 dangling-FK drop (attack_rml.ttl:267-271)
        )
    )


def emit_attack_relationships(ent_df: DataFrame, rel_df: DataFrame) -> DataFrame:
    """7 typed relationship maps (attack_rml.ttl:253-403)."""
    joined = valid_attack_rels(ent_df, rel_df)
    subj = f"concat({sq(T.EX_HASH)}, `source_id`)"
    obj = f"concat({sq(T.EX_HASH)}, `target_id`)"
    return emit(joined, [
        type_el(subj, raw("`subj_cls`")),
        uri_el(subj, raw("`pred`"), obj),
    ])


# ---------------------------------------------------------------------------
# CAPEC batch (mapping/capec/capec_rml.ttl)
# ---------------------------------------------------------------------------

CAPEC_ARRAY_PLAN: list[tuple[str, str]] = [
    (T.P_CAPEC_EXT_DESCRIPTION, "Extended_Description"),
    (T.P_CAPEC_RELATED_ATT, "Related_Attack_Patterns"),
    (T.P_CAPEC_EXEC_FLOW, "Execution_Flow"),
    (T.P_CAPEC_PREREQUISITES, "Prerequisites"),
    (T.P_CAPEC_SKILLS, "Skills_Required"),
    (T.P_CAPEC_RESOURCES, "Resources_Required"),
    (T.P_CAPEC_MITIGATIONS, "Mitigations"),
    (T.P_CAPEC_EXAMPLE, "Example_Instances"),
    (T.P_CAPEC_RELATED_WEAKNESSES, "Related_Weaknesses"),
    (T.P_CAPEC_TAXONOMY_ATTACK, "Taxonomy_Mappings"),
    (T.P_CAPEC_CONSEQUENCES, "Consequences"),
]


def emit_capec_batch(capec_dim: DataFrame) -> DataFrame:
    """One explode for the whole batch: scalar predicates, 11 array-literal
    predicates, and the two URI-edge families (+ target type decls,
    capec_rml.ttl:34-40, 161-167, 175-196)."""
    uri = "concat('https://capec.mitre.org/data/definitions/', `ID`, '.html')"

    def lit_arr(field: str, pred: str) -> str:
        # null arrays are coalesced to empty inside emit()
        return f"transform(`{field}`, v -> {lit_el(uri, pred, 'v')})"

    rw_obj = f"concat({sq(T.UCO_HASH)}, w)"
    rw_arr = ("flatten(transform(`Related_Weaknesses`, w -> array("
              + uri_el(uri, T.P_HAS_RELATED_WEAKNESS, rw_obj) + ", "
              + type_el(rw_obj, T.CL_CWE) + ")))")
    tm_obj = f"concat({sq(T.EX_HASH)}, t)"
    tm_arr = ("flatten(transform(`Taxonomy_Mappings`, t -> array("
              + uri_el(uri, T.P_HAS_TAXONOMY_MAPPING, tm_obj) + ", "
              + type_el(tm_obj, T.CL_ATTACK) + ")))")

    return emit(
        capec_dim,
        [
            type_el(uri, T.CL_CAPEC),  # :170-171
            lit_el(uri, T.RDFS_LABEL, "concat('CAPEC-', `ID`, ': ', `Name`)"),
            lit_el(uri, T.P_CAPEC_ID, "`ID`"),
            lit_el(uri, T.P_CAPEC_NAME, "`Name`"),
            lit_el(uri, T.P_CAPEC_ABSTRACTION, "`Abstraction`"),
            lit_el(uri, T.P_CAPEC_LIKELIHOOD, "`Likelihood_Of_Attack`"),
            lit_el(uri, T.P_CAPEC_SEVERITY, "`Typical_Severity`"),
            lit_el(uri, T.P_CAPEC_DESCRIPTION, "`Description`"),
        ],
        [lit_arr(f, p) for (p, f) in CAPEC_ARRAY_PLAN] + [rw_arr, tm_arr],
    )


# ---------------------------------------------------------------------------
# D3FEND batch (mapping/d3fend/d3fend_rml.ttl)
# ---------------------------------------------------------------------------


def emit_d3fend_batch(d3_dim: DataFrame) -> DataFrame:
    uri = f"concat({sq(T.EX_HASH)}, `id`)"
    off_uri = (f"(CASE WHEN `off_tech_id` IS NOT NULL AND `off_tech_id` != ''"
               f" THEN concat({sq(T.EX_HASH)}, `off_tech_id`) END)")
    return emit(d3_dim, [
        type_el(uri, T.CL_D3FEND),  # :55-56
        # NO ucoexMITRED3FEND_ID triples: rml:reference "d3f:d3fend-id'"
        # stray-quote typo (d3fend_rml.ttl:29) — reproduced
        lit_el(uri, T.P_D3FEND_DEFINITION, "`definition`"),
        lit_el(uri, T.P_D3FEND_LABEL, "`label`"),
        uri_el(uri, T.P_HAS_MITRE_ATTACK, off_uri),  # null obj filtered (P7)
        type_el(off_uri, T.CL_ATTACK),
    ])

