"""Dimension (dictionary) DataFrames for the linking/emission joins.

The reference's dictionaries are SQLite tables and JSON files consulted by
point lookup (S7, /root/reference/data_collection/cve_collection.py:85-92,
:261-287). Here they are small Spark DataFrames, broadcast at join time
(SURVEY.md §2.4 J1/J2). Each dim is built on the driver as a
``pyarrow.Table`` and handed to Spark whole, so it plans as a
``LocalTableScan``: JVM-native, driver-held, run by no job and with
nothing to materialize or replay. The A3 CPE upsert runs here too, in
plain Python over the dictionary rows, so the CPE dims are local
relations as well instead of windows that re-shuffle per reference.
Complex literals (the CPE titles language map, the CWE
related_attack_patterns struct) are PRE-SERIALIZED driver-side with the
shared kernel (``jsonenc``) so downstream emission is pure column
selection — byte-identical to the oracle and free of per-row Python at
scale (the dims are MBs; the corpus is the thing that's big).

Fixture-backed by default; a production deployment would load the same
schemas from parquet/Iceberg dictionary tables.
"""

from __future__ import annotations

import json

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as Ty
from pyspark.sql.pandas.types import to_arrow_schema

from ..fixtures import dicts as D
from ..kernel.jsonenc import dumps_reference, titles_lang_map_literal

# ---------------------------------------------------------------------------
# schemas (explicit — None-heavy fixture columns must not rely on inference)
# ---------------------------------------------------------------------------

_S = Ty.StringType()


def _schema(fields: list[tuple[str, Ty.DataType]]) -> Ty.StructType:
    return Ty.StructType([Ty.StructField(n, t, True) for n, t in fields])


CPE_SCHEMA = _schema([
    ("cpeName", _S), ("cpeNameId", _S), ("lastModified", _S),
    ("titles_json", _S), ("titles_lang_lit", _S),
    ("vendor", _S), ("product", _S),
])

CVE_SCHEMA = _schema([
    ("id", _S), ("published_raw", _S), ("lastModified_raw", _S),
    ("descriptions", Ty.ArrayType(_schema([("lang", _S), ("value", _S)]))),
    ("vulnStatus", _S), ("vectorString", _S), ("baseSeverity", _S),
    ("exploitabilityScore", _S), ("impactScore", _S),
    ("obtainAllPrivilege", Ty.BooleanType()),
    ("userInteractionRequired", Ty.BooleanType()),
    ("weakness_values", Ty.ArrayType(_S)),
    ("configurations", Ty.ArrayType(Ty.ArrayType(Ty.ArrayType(_S)))),
    ("evaluatorSolution", _S),
])

CWE_SCHEMA = _schema([
    ("id_value", _S), ("name", _S), ("abstraction", _S), ("structure", _S),
    ("status", _S), ("description", _S), ("extended_summary", _S),
    ("applicable_platforms", _S), ("modes_of_introduction", _S),
    ("common_consequences", _S), ("detection_methods", _S),
    ("potential_mitigations", _S), ("demonstrative_examples", _S),
    ("references", _S), ("mapping_notes", _S), ("time_of_introduction", _S),
    ("summary", _S), ("likelihood_of_exploit", _S),
    ("related_attack_patterns_lit", _S),
    ("observed_examples", Ty.ArrayType(_schema([
        ("cwe_id", _S), ("Reference", _S), ("Description", _S), ("Link", _S)]))),
])

ATTACK_ENT_SCHEMA = _schema([
    ("ID", _S), ("name", _S), ("description", _S), ("url", _S),
    ("domain", _S), ("kind", _S),
])

ATTACK_REL_SCHEMA = _schema([
    ("source_id", _S), ("source_type", _S), ("target_id", _S), ("target_type", _S),
])

CAPEC_SCHEMA = _schema([
    ("ID", _S), ("Name", _S), ("Abstraction", _S), ("Status", _S),
    ("Description", _S), ("Likelihood_Of_Attack", _S), ("Typical_Severity", _S),
    ("Extended_Description", Ty.ArrayType(_S)),
    ("Related_Attack_Patterns", Ty.ArrayType(_S)),
    ("Execution_Flow", Ty.ArrayType(_S)),
    ("Prerequisites", Ty.ArrayType(_S)),
    ("Skills_Required", Ty.ArrayType(_S)),
    ("Resources_Required", Ty.ArrayType(_S)),
    ("Consequences", Ty.ArrayType(_S)),
    ("Mitigations", Ty.ArrayType(_S)),
    ("Example_Instances", Ty.ArrayType(_S)),
    ("Related_Weaknesses", Ty.ArrayType(_S)),
    ("Taxonomy_Mappings", Ty.ArrayType(_S)),
])

D3FEND_SCHEMA = _schema([
    ("id", _S), ("d3fend_id", _S), ("definition", _S), ("label", _S),
    ("off_tech_id", _S),
])

CPE_VP_SCHEMA = _schema(
    [(f.name, f.dataType) for f in CPE_SCHEMA] + [("canonical_id", _S)])


# ---------------------------------------------------------------------------
# builders
# ---------------------------------------------------------------------------


def _arrow_table(rows: list[tuple], schema: Ty.StructType) -> pa.Table:
    """Driver rows (tuples in ``schema`` order) → a ``pyarrow.Table``."""
    return pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema))


def latest_rows(rows: list[tuple], key_cols: tuple[str, ...]) -> list[tuple]:
    """A3 upsert-by-key: per ``key_cols`` value keep the CPE row with max
    (lastModified, cpeNameId), a null ranking below any value — the row a
    ``row_number()`` window ordered by both ``DESC NULLS LAST`` ranks 1.
    Replaces the reference's completion-order INSERT OR REPLACE
    (cve_collection.py:185-188). Python orders str by code point, Spark
    by UTF-8 bytes: the same order."""
    ix = [CPE_SCHEMA.names.index(c) for c in key_cols]
    order = [CPE_SCHEMA.names.index(c) for c in ("lastModified", "cpeNameId")]

    def recency(r):
        return tuple((r[i] is not None, r[i]) for i in order)

    best: dict[tuple, tuple] = {}
    for r in rows:
        k = tuple(r[i] for i in ix)
        if k not in best or recency(r) > recency(best[k]):
            best[k] = r
    return list(best.values())


def _cpe_rows() -> list[tuple]:
    """CPE dictionary after the upsert by cpeName."""
    rows = []
    for r in D.dict_cpe():
        parts = r["cpeName"].split(":")
        rows.append((
            r["cpeName"], r["cpeNameId"], r["lastModified"], r["titles_json"],
            titles_lang_map_literal(json.loads(r["titles_json"])),
            parts[3], parts[4],
        ))
    return latest_rows(rows, ("cpeName",))


def cpe_table() -> pa.Table:
    return _arrow_table(_cpe_rows(), CPE_SCHEMA)


def cpe_vp_table() -> pa.Table:
    """canonical vendor:product → latest cpe row (fuzzy-link target)."""
    rows = [r + (f"{r[5]}:{r[6]}",)
            for r in latest_rows(_cpe_rows(), ("vendor", "product"))]
    return _arrow_table(rows, CPE_VP_SCHEMA)


def cve_table() -> pa.Table:
    rows = [(
        r["id"], r["published_raw"], r["lastModified_raw"],
        [(d["lang"], d["value"]) for d in r["descriptions"]],
        r["vulnStatus"], r["vectorString"], r["baseSeverity"],
        r["exploitabilityScore"], r["impactScore"],
        r["obtainAllPrivilege"], r["userInteractionRequired"],
        r["weakness_values"], r["configurations"], r["evaluatorSolution"],
    ) for r in D.dict_cve()]
    return _arrow_table(rows, CVE_SCHEMA)


def cwe_table() -> pa.Table:
    rows = []
    for w in D.dict_cwe():
        rap = w.get("related_attack_patterns")
        obs = (w.get("observed_examples") or {}).get("observed_example")
        rows.append((
            w["id_value"], w["name"], w["abstraction"], w["structure"],
            w["status"], w["description"], w["extended_summary"],
            w["applicable_platforms"], w["modes_of_introduction"],
            w["common_consequences"], w["detection_methods"],
            w["potential_mitigations"], w["demonstrative_examples"],
            w["references"], w["mapping_notes"], w["time_of_introduction"],
            w["summary"], w["likelihood_of_exploit"],
            dumps_reference(rap) if rap is not None else None,
            [(e.get("cwe_id"), e.get("Reference"), e.get("Description"),
              e.get("Link")) for e in obs] if obs else None,
        ))
    return _arrow_table(rows, CWE_SCHEMA)


def attack_tables() -> tuple[pa.Table, pa.Table]:
    ents, rels = D.dict_attack()
    return (
        _arrow_table([(e["ID"], e["name"], e["description"], e["url"],
                       e["domain"], e["kind"]) for e in ents],
                     ATTACK_ENT_SCHEMA),
        _arrow_table([(r["source ID"], r["source type"], r["target ID"],
                       r["target type"]) for r in rels],
                     ATTACK_REL_SCHEMA),
    )


def capec_table() -> pa.Table:
    rows = [(
        p["ID"], p["Name"], p["Abstraction"], p["Status"], p["Description"],
        p["Likelihood_Of_Attack"], p["Typical_Severity"],
        p["Extended_Description"], p["Related_Attack_Patterns"],
        p["Execution_Flow"], p["Prerequisites"], p["Skills_Required"],
        p["Resources_Required"], p["Consequences"], p["Mitigations"],
        p["Example_Instances"], p["Related_Weaknesses"], p["Taxonomy_Mappings"],
    ) for p in D.dict_capec()]
    return _arrow_table(rows, CAPEC_SCHEMA)


def d3fend_table() -> pa.Table:
    rows = [(d["@id"], d["d3f:d3fend-id"], d["d3f:definition"],
             d["rdfs:label"], d["off_tech_id"])
            for d in D.dict_d3fend()]
    return _arrow_table(rows, D3FEND_SCHEMA)


def dim_tables() -> dict[str, pa.Table]:
    """Every dictionary as a driver-held Arrow table, keyed as ``SCHEMAS``."""
    ents, rels = attack_tables()
    return {"cve": cve_table(), "cwe": cwe_table(), "cpe": cpe_table(),
            "cpe_vp": cpe_vp_table(), "attack_ents": ents,
            "attack_rels": rels, "capec": capec_table(),
            "d3fend": d3fend_table()}


SCHEMAS = {"cve": CVE_SCHEMA, "cwe": CWE_SCHEMA, "cpe": CPE_SCHEMA,
           "cpe_vp": CPE_VP_SCHEMA, "attack_ents": ATTACK_ENT_SCHEMA,
           "attack_rels": ATTACK_REL_SCHEMA, "capec": CAPEC_SCHEMA,
           "d3fend": D3FEND_SCHEMA}


def local_df(spark: SparkSession, name: str, table: pa.Table) -> DataFrame:
    """The driver-held table of dictionary ``name`` (or rows taken from
    it) as a ``LocalTableScan``."""
    return spark.createDataFrame(table, SCHEMAS[name])
