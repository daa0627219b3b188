"""Oracle: pages → golden text + golden triples, single-threaded.

Implements the graft KG-construction rules (SURVEY.md §1.3, §3 "graft
lifecycle") in pure Python over the fixture pages. The Spark pipeline
(uckg_spark.plans.kg_pipeline) must reproduce:
- extracted text byte-identical per url (input_hint);
- the triple set at P/R ≥ 0.95 (exact set equality expected on fixtures).

Mention→triple rules (each cites the reference template it reuses):
R1  CVE id mention       → VULN/CVE type + hasCVE_ID  (cve_rml.ttl:28-31,
                           57-63, 79-82)
R2  CVE ∈ dict_cve       → full CVE record batch      (cve_rml.ttl, all maps)
R3  CVE × CWE(linked)    → ExploitTarget + hasVulnerability + hasWeakness
                           (cve_rml.ttl:197-236)
R4  CVE × CPE mention    → ucoexhasCPE edge + CPE record; fuzzy
                           vendor/product mentions resolve to the latest
                           cpeName for the canonical vendor:product
                           (cve_rml.ttl:69-78, 146-194; J1 dictionary_found
                           semantics cve_collection.py:396-420)
R5  CWE(linked) mention  → full CWE record            (cwe_rml.ttl)
R6  CAPEC(linked)        → full CAPEC record; × CVE co-mention →
                           ucoexploitsVulnerability edge (graft "exploits",
                           ontology decl uco2.ttl:45)
R7  ATT&CK id(linked)    → entity record (any kind: technique, group,
                           software, campaign, mitigation, tactic); every
                           catalog relationship (all 7 typed pairs,
                           attack_rml.ttl:253-403) with a mentioned SOURCE
                           OR TARGET → typed edge + entity records for both
                           endpoints ("mitigatedBy" realization generalized)
R8  d3fend id(linked)    → D3FEND record batch (d3fend_rml.ttl:21-57 incl.
                           the _ID stray-quote typo: no _ID triples)
Finally: F3 datetime repair + A1 global set dedup (repair_and_dedup).
"""

from __future__ import annotations

import json

from ..fixtures import dicts as D
from ..kernel import templates as T
from ..kernel.jsonenc import titles_lang_map_literal
from ..kernel.linking import build_idf, score_candidates
from . import detect
from . import emitters as E
from .extract import extract_text


def _vendor_product_to_cpe(cpe_index: dict[str, dict]) -> dict[str, dict]:
    """canonical vendor:product → latest cpe row (max lastModified, then
    max cpeNameId — same deterministic upsert rule as A3)."""
    best: dict[str, dict] = {}
    for row in cpe_index.values():
        parts = row["cpeName"].split(":")
        key = f"{parts[3]}:{parts[4]}"
        cur = best.get(key)
        if cur is None or (row["lastModified"], row["cpeNameId"]) > (
            cur["lastModified"],
            cur["cpeNameId"],
        ):
            best[key] = row
    return best


class OracleDictionaries:
    """All broadcast-side state, built once (deterministic)."""

    def __init__(self) -> None:
        self.cpe_rows = D.dict_cpe()
        self.cpe_index = E.latest_cpe_index(self.cpe_rows)
        self.vp_index = _vendor_product_to_cpe(self.cpe_index)
        self.cwe_rows = D.dict_cwe()
        self.cwe_by_id = {w["id_value"]: w for w in self.cwe_rows}
        self.cve_rows = D.dict_cve()
        self.cve_records = {
            r["id"]: r
            for r in E.build_cve_records(
                self.cve_rows, set(self.cwe_by_id), self.cpe_index
            )
        }
        self.attack_entities, self.attack_rels = D.dict_attack()
        self.attack_by_id = {e["ID"]: e for e in self.attack_entities}
        self.technique_ids = {
            e["ID"] for e in self.attack_entities if e["kind"] == "technique"
        }
        self.capec_rows = D.dict_capec()
        self.capec_by_tag = {f"CAPEC-{p['ID']}": p for p in self.capec_rows}
        self.d3fend_rows = D.dict_d3fend()
        self.d3fend_by_did = {d["d3f:d3fend-id"]: d for d in self.d3fend_rows}
        alias = D.alias_table()
        self.alias_by_surface: dict[str, list[tuple[str, float]]] = {}
        for a in alias:
            from ..kernel.linking import tokenize

            key = " ".join(tokenize(a["surface_form"]))
            self.alias_by_surface.setdefault(key, []).append(
                (a["canonical_id"], a["prior"])
            )
        self.alias_kind = {a["canonical_id"]: a["kind"] for a in alias}
        self.idf = build_idf([a["surface_form"] for a in alias])
        self.aliases = detect.AliasMatcher([a["surface_form"] for a in alias])
        # valid relationship rows for R7: P3 null-source drop, P5 catalog
        # type-pair filter, J4 target-FK check (all 7 typed pairs,
        # attack_rml.ttl:253-403)
        self.valid_rels: list[dict] = [
            r for r in self.attack_rels
            if r.get("source ID") is not None
            and (r.get("source type"), r.get("target type")) in T.ATTACK_REL_CATALOG
            and r["target ID"] in self.attack_by_id
        ]


def page_mentions(text: str, dicts: OracleDictionaries) -> dict[str, set[str]]:
    """Returns linked mention sets per kind for one page's text."""
    from ..kernel.linking import tokenize

    out = {"cve": set(), "cwe": set(), "capec": set(), "attack": set(),
           "d3fend": set(), "cpe_found": set(), "cpe_miss": set()}
    for kind, tok, _off in detect.scan_ids(text):
        if kind == "cve":
            out["cve"].add(tok)
        elif kind == "cwe" and tok in dicts.cwe_by_id:
            out["cwe"].add(tok)
        elif kind == "capec" and tok in dicts.capec_by_tag:
            out["capec"].add(tok)
        elif kind == "attack" and tok in dicts.attack_by_id:
            out["attack"].add(tok)  # any entity kind (R7, full catalog)
        elif kind == "d3fend" and tok in dicts.d3fend_by_did:
            out["d3fend"].add(tok)
        elif kind == "cpe":
            if tok in dicts.cpe_index:
                out["cpe_found"].add(tok)
            else:
                out["cpe_miss"].add(tok)
    # fuzzy surface mentions (the golden alias matcher, over normalized text)
    for surf, _off in dicts.aliases.find(text):
        key = " ".join(tokenize(surf))
        cands = dicts.alias_by_surface.get(key)
        if not cands:
            continue
        hit = score_candidates(surf, cands, dicts.idf)
        if hit is None:
            continue
        canonical_id, _score = hit
        if dicts.alias_kind.get(canonical_id) == "technique":
            if canonical_id in dicts.technique_ids:
                out["attack"].add(canonical_id)
        else:
            row = dicts.vp_index.get(canonical_id)
            if row is not None:
                out["cpe_found"].add(row["cpeName"])
    return out


def triples_for_page(m: dict[str, set[str]], dicts: OracleDictionaries) -> list[E.Triple]:
    out: list[E.Triple] = []
    lit, uri, typ = E._lit, E._uri, E._type
    for cve in sorted(m["cve"]):
        vuln, cveu = T.uri_vuln(cve), T.uri_uco(cve)
        # R1
        out.append(typ(vuln, T.CL_VULNERABILITY))
        out.append(typ(cveu, T.CL_CVE))
        out += uri(vuln, T.P_HAS_CVE_ID, cveu, T.CL_CVE)
        # R2
        rec = dicts.cve_records.get(cve)
        if rec is not None:
            out += E.emit_cve_batch([rec])
        # R3
        for cwe in sorted(m["cwe"]):
            et = T.uri_exploit_target(cwe)
            out.append(typ(et, T.CL_EXPLOIT_TARGET))
            out += uri(et, T.P_HAS_VULNERABILITY, vuln, T.CL_VULNERABILITY)
            out += uri(et, T.P_HAS_WEAKNESS, T.uri_uco(cwe), T.CL_CWE)
        # R4 edges
        for cpe in sorted(m["cpe_found"] | m["cpe_miss"]):
            out += uri(cveu, T.P_HAS_CPE, T.uri_ucoex(cpe), T.CL_CPE)
        # R6 edge
        for cap in sorted(m["capec"]):
            p = dicts.capec_by_tag[cap]
            out += uri(T.uri_capec(p["ID"]),
                       T.UCO_BARE + "ucoexploitsVulnerability", vuln,
                       T.CL_VULNERABILITY)
    # R4 records
    for cpe in sorted(m["cpe_found"]):
        row = dicts.cpe_index[cpe]
        cpe_uri = T.uri_ucoex(cpe)
        out.append(typ(cpe_uri, T.CL_CPE))
        out += lit(cpe_uri, T.P_CPE_NAME, row["cpeName"])
        out += lit(cpe_uri, T.P_CPE_NAME_ID, row["cpeNameId"])
        out += lit(cpe_uri, T.P_CPE_LAST_MODIFIED, row["lastModified"], T.XSD_DATETIME)
        out += lit(cpe_uri, T.P_CPE_TITLES,
                   titles_lang_map_literal(json.loads(row["titles_json"])), T.RDF_JSON)
        out += E._bool(cpe_uri, T.P_DICTIONARY_FOUND, True)
    for cpe in sorted(m["cpe_miss"]):
        cpe_uri = T.uri_ucoex(cpe)
        out.append(typ(cpe_uri, T.CL_CPE))
        out += lit(cpe_uri, T.P_CPE_NAME, cpe)
        out += E._bool(cpe_uri, T.P_DICTIONARY_FOUND, False)
    # R5
    for cwe in sorted(m["cwe"]):
        out += E.emit_cwe_batch([dicts.cwe_by_id[cwe]])
    # R6 records
    for cap in sorted(m["capec"]):
        out += E.emit_capec_batch([dicts.capec_by_tag[cap]])
    # R7 — entity records for every mentioned ATT&CK id (any kind), plus
    # every catalog relationship with a mentioned endpoint (typed edge +
    # entity records for both endpoints)
    for aid in sorted(m["attack"]):
        out += E.emit_attack_batch([dicts.attack_by_id[aid]], [])
    for r in dicts.valid_rels:
        src, tgt = r["source ID"], r["target ID"]
        if src not in m["attack"] and tgt not in m["attack"]:
            continue
        pred, subj_cls, _tgt_cls = T.ATTACK_REL_CATALOG[
            (r["source type"], r["target type"])]
        subj = T.uri_ucoex(src)
        out.append(typ(subj, subj_cls))
        out += uri(subj, pred, T.uri_ucoex(tgt))
        for eid in (src, tgt):
            if eid in dicts.attack_by_id:
                out += E.emit_attack_batch([dicts.attack_by_id[eid]], [])
    # R8 — D3FEND record batch for mentioned, in-dictionary d3fend ids
    for did in sorted(m["d3fend"]):
        out += E.emit_d3fend_batch([dicts.d3fend_by_did[did]])
    return out


def run_oracle(pages: list[dict], dicts: OracleDictionaries | None = None):
    """Returns (golden_text: {url: text}, golden_triples: set[Triple])."""
    dicts = dicts or OracleDictionaries()
    golden_text: dict[str, str] = {}
    triples: list[E.Triple] = []
    for row in pages:
        text = extract_text(row["html"])
        golden_text[row["url"]] = text
        if not text:
            continue
        m = page_mentions(text, dicts)
        triples += triples_for_page(m, dicts)
    return golden_text, E.repair_and_dedup(triples)


def oracle_graph(triples) -> tuple[set, dict]:
    """``materialize_graph`` over oracle triples, in plain Python:
    (edges {(subj, pred, obj)}, nodes {uri: (sorted labels,
    {pred: sorted values})})."""
    edges = {(t.subj, t.pred, t.obj) for t in triples
             if not t.obj_is_literal and t.pred != T.RDF_TYPE}
    labels: dict[str, set] = {}
    props: dict[str, dict[str, set]] = {}
    for t in triples:
        if t.pred == T.RDF_TYPE:
            labels.setdefault(t.subj, set()).add(t.obj)
        if t.obj_is_literal:
            props.setdefault(t.subj, {}).setdefault(t.pred, set()).add(t.obj)
    nodes = {uri: (sorted(labels.get(uri, ())),
                   {p: sorted(v) for p, v in props.get(uri, {}).items()})
             for uri in labels.keys() | props.keys()}
    return edges, nodes


def frame_graph(nodes, edges) -> tuple[set, dict]:
    """The same (edges, nodes) shape, collected from Spark node and edge
    frames (``materialize_graph``'s, or a catalog's read back)."""
    return (
        {tuple(r) for r in edges.select("subj", "pred", "obj").collect()},
        {r["uri"]: (sorted(r["labels"]),
                    {p: sorted(v) for p, v in r["props"].items()})
         for r in nodes.collect()})
