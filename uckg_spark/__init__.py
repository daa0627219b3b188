"""uckg_spark — a from-scratch PySpark-native knowledge-graph construction
engine with the semantics of edogdu/UCKG (reference at /root/reference,
analyzed in SURVEY.md).

Layout
------
kernel/     pure-Python shared kernels (HTML extraction, id gazetteers,
            datetime quirks, URI templates, canonical JSON) imported by BOTH
            the Spark Arrow UDFs and the single-threaded oracle, so
            byte-identity holds by construction (SURVEY.md §7.0).
fixtures/   deterministic (seed=42) synthetic pages + dictionary tables
            per FIXTURES.md.
oracle/     pure-Python golden pipeline → golden triples / golden text.
sources/    catalog shim (parquet + manifest standing in for Iceberg:
            atomic snapshot commits, props, time travel, changelogs).
operators/  Spark operators: extraction, mention detection, entity linking,
            canonicalization (salted agg + connected components), dedup
            (exact/minhash/simhash/jaccard), similarity search, text stats,
            multimodal plumbing, skew helpers.
plans/      triple-emission plans (§2.9 catalog) and the end-to-end
            pages→triples pipeline.
streaming/  Structured Streaming variant of the ingest path.
"""

__version__ = "0.1.0"
