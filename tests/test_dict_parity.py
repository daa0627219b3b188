"""Dictionary-batch parity: the Spark emission plans must reproduce the
oracle's triple set EXACTLY over the full fixture dictionaries — this is
the reimplemented-RML-mapper correctness surface (SURVEY.md §5.2)."""

from uckg_spark.fixtures import dicts as D
from uckg_spark.oracle import emitters as E
from uckg_spark.plans import triples as PT
from uckg_spark.plans.kg_pipeline import _dictionary_records


def _gold():
    cpe_index = E.latest_cpe_index(D.dict_cpe())
    cwe_rows = D.dict_cwe()
    records = E.build_cve_records(
        D.dict_cve(), {w["id_value"] for w in cwe_rows}, cpe_index
    )
    ents, rels = D.dict_attack()
    return E.repair_and_dedup(
        E.emit_cve_batch(records)
        + E.emit_cwe_batch(cwe_rows)
        + E.emit_attack_batch(ents, rels)
        + E.emit_capec_batch(D.dict_capec())
        + E.emit_d3fend_batch(D.dict_d3fend())
    )


def test_full_dictionary_batch_parity(spark, kg_dims):
    """The build's own record half, with every dictionary key mentioned."""
    gold = {tuple(t) for t in _gold()}
    t = kg_dims.tables

    def ids(col, prefix=""):
        return {prefix + v for v in col.to_pylist() if v is not None}

    keys = {"cve": ids(t["cve"]["id"]), "cwe": ids(t["cwe"]["id_value"]),
            "capec": ids(t["capec"]["ID"], "CAPEC-"),
            "attack": ids(t["attack_ents"]["ID"]),
            "d3fend": ids(t["d3fend"]["d3fend_id"])}
    got_df = PT.repair_and_dedup(_dictionary_records(spark, kg_dims, keys))
    got = {tuple(r) for r in got_df.collect()}
    assert got == gold
    assert len(gold) > 1500  # non-trivial corpus


def test_quirks_present_in_gold():
    gold = _gold()
    preds = {t.pred for t in gold}
    from uckg_spark.kernel import templates as T

    # D3FEND _ID typo: predicate never emitted (d3fend_rml.ttl:29)
    assert T.P_D3FEND_ID_NEVER_EMITTED not in preds
    # ucorelatedWeakness dual typo: never emitted (cwe_rml.ttl:152,160)
    assert T.P_RELATED_WEAKNESS not in preds
    # F3: >3-digit fraction dropped ENTIRELY on dateTime literals
    dt_objs = [t.obj for t in gold if t.obj_datatype == T.XSD_DATETIME]
    assert dt_objs and all("." not in o or len(o.split(".")[-1]) <= 3 for o in dt_objs)
    assert any("." not in o for o in dt_objs)  # repaired rows exist
    # dictionary_found=False rows emit cpeName but no cpeNameId
    miss_subjects = {
        t.subj for t in gold
        if t.pred == T.P_DICTIONARY_FOUND and t.obj == "false"
    }
    assert miss_subjects
    for s in miss_subjects:
        assert not any(t.subj == s and t.pred == T.P_CPE_NAME_ID for t in gold)
