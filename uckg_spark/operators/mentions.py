"""Batched cybersecurity mention detection + fuzzy surface scoring.

One ``mapInPandas`` stage per the north_star: regex gazetteers (CVE / CWE /
CAPEC / ATT&CK / CPE id shapes, kernel.ids) + an Aho–Corasick automaton over
alias surface forms, with TF-IDF cosine + alias-prior scoring
(kernel.linking) resolving fuzzy vendor/product and technique-name mentions
to canonical ids. The automaton + IDF table are built ONCE on the driver
and shipped via a Spark broadcast — never per task.

Both detectors prefilter, then verify (``kernel.ids``): one RE2 pass
per text (``pyarrow.compute.split_pattern_regex``) over an alternation of
the id grammars' prefixes, and one over the casefolded text for the
aliases' first words, yield a superset of the match starts, since every
match begins with one of them; the id and alias matchers then run only
at those starts, in document order, resuming after each match, so the
output equals a full scan's. The oracle checks this against its own
full-scan copy (``oracle/detect.py``).

Output mention table: (url, kind, token, canonical_id)
- id mentions: kind ∈ {cve,cwe,capec,attack,cpe}, canonical_id = token
- fuzzy mentions: kind ∈ {vendor_product, technique}, canonical_id = the
  scored winner (ties broken (score desc, id asc) — deterministic).

Dictionary MEMBERSHIP (which ids exist) is deliberately NOT resolved here:
that's a JVM-side broadcast join downstream (J1/J2 semantics,
/root/reference/data_collection/cve_collection.py:384-389, :396-420), where
Catalyst can see it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as Ty

from ..kernel.extract import extract_text, text_sha256
from ..kernel.ids import AhoCorasick, scan_ids
from ..kernel.linking import build_idf, score_candidates, tokenize

MENTION_SCHEMA = Ty.StructType([
    Ty.StructField("url", Ty.StringType(), False),
    Ty.StructField("kind", Ty.StringType(), False),
    Ty.StructField("token", Ty.StringType(), False),
    Ty.StructField("canonical_id", Ty.StringType(), False),
])

EXTRACT_SCHEMA = Ty.StructType([
    Ty.StructField("url", Ty.StringType(), False),
    Ty.StructField("text", Ty.StringType(), True),
    Ty.StructField("text_sha256", Ty.StringType(), True),
])


class LinkState:
    """Driver-built, broadcast-shipped linking state (pickle-able)."""

    def __init__(self, alias_rows: list[dict]):
        self.aho = AhoCorasick([a["surface_form"] for a in alias_rows])
        self.idf = build_idf([a["surface_form"] for a in alias_rows])
        self.by_surface: dict[str, list[tuple[str, float]]] = {}
        self.kind_of: dict[str, str] = {}
        for a in alias_rows:
            key = " ".join(tokenize(a["surface_form"]))
            self.by_surface.setdefault(key, []).append(
                (a["canonical_id"], a["prior"])
            )
            self.kind_of[a["canonical_id"]] = a["kind"]

    def fuzzy_mentions(self, text: str) -> list[tuple[str, str, str]]:
        out = []
        for surf, _off in self.aho.find(text):
            key = " ".join(tokenize(surf))
            cands = self.by_surface.get(key)
            if not cands:
                continue
            hit = score_candidates(surf, cands, self.idf)
            if hit is None:
                continue
            canonical_id, _score = hit
            kind = self.kind_of[canonical_id]
            # technique-name mentions land in the same kind as technique-id
            # mentions so downstream needs no union/distinct across kinds
            if kind == "technique":
                kind = "attack"
            out.append((kind, surf, canonical_id))
        return out


def scan_pages(
    spark: SparkSession, pages: DataFrame, alias_rows: list[dict]
) -> DataFrame:
    """FUSED extract+scan: pages(url, html) → mention rows in ONE Arrow
    stage, for batch and streaming frames alike. The extracted text
    (≈ half the corpus bytes) never crosses back over the JVM↔Python
    boundary — at 100 TB that boundary IS the pipe."""
    bc = spark.sparkContext.broadcast(LinkState(alias_rows))

    def fused(batches):
        import pandas as pd

        state = bc.value
        for pdf in batches:
            urls, kinds, toks, canon = [], [], [], []
            for url, html in zip(pdf["url"], pdf["html"]):
                text = extract_text(html)
                if not text:
                    continue
                for kind, tok, _off in scan_ids(text):
                    urls.append(url)
                    kinds.append(kind)
                    toks.append(tok)
                    canon.append(tok)
                for kind, surf, cid in state.fuzzy_mentions(text):
                    urls.append(url)
                    kinds.append(kind)
                    toks.append(surf)
                    canon.append(cid)
            yield pd.DataFrame(
                {"url": urls, "kind": kinds, "token": toks, "canonical_id": canon}
            )

    return pages.select("url", "html").mapInPandas(fused, schema=MENTION_SCHEMA)


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, html) → (url, text, text_sha256): the extraction half of
    ``scan_pages`` on its own, for checks that need the text itself (the
    byte-identity gate against the oracle, which calls the same
    ``extract_text``). Projects to (url, html) first so the scan prunes
    every other column; the input's pre-extracted ``text`` is ignored."""

    def extract(batches):
        import pandas as pd

        for pdf in batches:
            texts = [extract_text(h) for h in pdf["html"]]
            yield pd.DataFrame({
                "url": pdf["url"],
                "text": texts,
                "text_sha256": [text_sha256(t) for t in texts],
            })

    return pages.select("url", "html").mapInPandas(extract,
                                                   schema=EXTRACT_SCHEMA)
