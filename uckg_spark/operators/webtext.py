"""Web-corpus curation operators: Gopher-style repetition scores,
cross-document duplicated-shingle statistics (the counting core of
exact-substring dedup), and URL canonicalization.

These complete the training-data-pipeline family (dedup.py,
textstats.py, similarity.py) with the three curation steps a
Common-Crawl-scale corpus runs before training:

- repetition filtering (Rae et al., Gopher §A1.1): documents dominated
  by repeated tokens / a single hot n-gram are boilerplate or spam;
  score them so a downstream filter can drop by threshold.
- duplicated-span detection (Lee et al., "Deduplicating Training Data
  Makes Language Models Better"): the first phase of exact-substring
  dedup is counting which n-gram spans occur in more than one document;
  at 10^12 docs this is one explode + one count shuffle keyed by the
  span itself, which is exactly how the suffix-array approach is
  approximated in MapReduce-style engines.
- URL canonicalization: Common-Crawl page tables key on url; scheme/
  host case, default ports, fragments and trailing slashes make
  byte-distinct urls that are the same resource, so exact dedup on raw
  url under-merges. (Reference parity note: the reference keys records
  on ids it fetches — e.g. /root/reference/data_collection/
  cve_collection.py builds per-CVE URLs — and never canonicalizes;
  this operator is part of the web-scale graft surface, not a port.)

All scores are exact parts-per-million integers (same convention as
textstats.quality_scores) so the DuckDB oracle matches bit-for-bit.
No UDFs anywhere — pure JVM column algebra plus one well-keyed shuffle
where a count genuinely crosses rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import reuse
from .dedup import shingles, tokens

E6 = 1000000


def repetition_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token-repetition scores (Gopher A1.1, adapted to the
    whitespace-token granularity of the documents table):

    - ``dup_token_frac_e6``: fraction of tokens that are repeats of an
      earlier token — (n_tokens − n_distinct) / n_tokens. Computed
      shuffle-free with array algebra (the whole score is per-row).
    - ``top_2gram_count`` / ``top_2gram_frac_e6``: occurrences of the
      most frequent word 2-gram and the fraction of tokens those
      occurrences cover (2·count / n_tokens). Needs a real count across
      a document's grams, so it shuffles ONCE keyed by (doc_id, gram) —
      doc_id in the key spreads hot grams across the cluster, and the
      per-doc max that follows is a partial-aggregating max on doc_id.

    A quadratic per-document fold could avoid the shuffle, but at web
    scale documents reach 10^5 tokens and O(n²) per row loses to one
    well-keyed exchange; this is the 100 TB shape.
    """
    # Arrow kernel (optimization round 6, guide §4.2): all three raw
    # counts are per-document, so one row-local pass replaces the
    # triple interpreted tokenize, the (doc_id, gram) count shuffle,
    # the per-doc max shuffle and the join-back. The per-task state is
    # one Counter bounded by a document's own 2-gram count — the same
    # order as holding the text row, so this stays the 100 TB shape
    # (the round-5 shuffle form hedged against 10^5-token documents,
    # but the counter is linear in the doc, not quadratic). Counts are
    # exact and identical: tokens split on the ASCII whitespace class
    # Java's \s matches; 2-grams are adjacent-token joins.
    id_type = dict(docs.dtypes)["doc_id"]

    def part(batches):
        import re
        from collections import Counter

        import pandas as pd

        split = re.compile(r"[ \t\n\x0b\f\r]+").split
        for pdf in batches:
            ids: list = []
            ntk: list = []
            nds: list = []
            top: list = []
            for i, txt in zip(pdf["doc_id"], pdf[text_col]):
                ids.append(i)
                if txt is None:
                    # size(tokens(NULL)) is NULL in the expression form;
                    # the gram branch contributed a coalesced 0
                    ntk.append(None)
                    nds.append(None)
                    top.append(0)
                    continue
                t = [w for w in split(txt) if w]
                ntk.append(len(t))
                nds.append(len(set(t)))
                if len(t) >= 2:
                    c = Counter(zip(t, t[1:]))
                    top.append(max(c.values()))
                else:
                    top.append(0)
            yield pd.DataFrame({
                "doc_id": ids,
                "n_tokens": pd.array(ntk, dtype="Int64"),
                "n_distinct": pd.array(nds, dtype="Int64"),
                "top_2gram_count": pd.array(top, dtype="int64"),
            })

    base = docs.select("doc_id", text_col).mapInPandas(
        part,
        f"doc_id {id_type}, n_tokens bigint, n_distinct bigint, "
        "top_2gram_count bigint",
    )
    ntok = F.greatest(F.col("n_tokens"), F.lit(1))
    return base.select(
        "doc_id",
        "n_tokens",
        F.floor(F.lit(E6) * (F.col("n_tokens") - F.col("n_distinct")) / ntok)
        .cast("bigint")
        .alias("dup_token_frac_e6"),
        F.col("top_2gram_count").cast("bigint").alias("top_2gram_count"),
        F.floor(F.lit(E6) * F.lit(2) * F.col("top_2gram_count") / ntok)
        .cast("bigint")
        .alias("top_2gram_frac_e6"),
    )


def duplicated_shingles(
    docs: DataFrame, n: int = 5, text_col: str = "text", min_docs: int = 2
) -> DataFrame:
    """Cross-document duplicated n-gram spans: every word n-gram that
    appears in ≥ ``min_docs`` distinct documents, with how many docs and
    how many total occurrences. This is the counting phase of
    exact-substring dedup (Lee et al. 2022): the spans it surfaces are
    the candidates a removal pass would cut.

    Shape at scale: one explode (no driver materialization), one
    aggregation shuffle keyed by the span string itself. Hot spans (the
    whole point — boilerplate occurs everywhere) are handled by the
    map-side partial aggregation: each input partition pre-counts its
    own occurrences, so the reducer for a span receives one row per
    upstream partition, not one per occurrence. count(distinct doc_id)
    expands to a two-round aggregate the same way.
    """
    from .dedup import shingle_rows

    spans = shingle_rows(docs, n, text_col).select(
        F.col("id").alias("doc_id"), F.col("token").alias("shingle"))
    return (
        spans.groupBy("shingle")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_duplicated_spans(
    docs: DataFrame, n: int = 5, text_col: str = "text", min_docs: int = 2
) -> DataFrame:
    """The APPLY phase of exact-substring dedup (Lee et al. 2022),
    completing the pipeline :func:`duplicated_shingles` starts: every
    token covered by a word n-gram that occurs in ≥ ``min_docs`` distinct
    documents is cut from EVERY document; the survivors keep their
    original order.

    Returns ``doc_id, n_tokens, n_removed, text_clean``.

    Shape at scale (the MapReduce approximation of the suffix-array
    algorithm):

    1. build the duplicated-span table — one explode + one count shuffle
       keyed by the span (see :func:`duplicated_shingles`);
    2. explode each doc's (position, span) pairs and LEFT-SEMI join
       against that table — the join key is the span string, so hot
       boilerplate spans fan out across the cluster, and Spark's AQE
       converts the probe to a broadcast when the dup table is small;
    3. aggregate the surviving start positions per doc (one shuffle on
       doc_id, unique and well-spread) and rebuild the text with pure
       array algebra: token j is dropped iff some duplicated start i
       satisfies i ≤ j < i+n. The per-row rebuild is O(m·|starts|) in
       the worst case but |starts| is bounded by the duplicated MASS of
       the doc, which is exactly what this operator exists to make small.
    """
    from .dedup import shingle_rows

    spans = shingle_rows(docs, n, text_col, pos=True).select(
        F.col("id").alias("doc_id"), "pos", F.col("token").alias("shingle"))
    # spans feeds BOTH the duplicated-span count and the probe side of
    # the semi join: reuse it so the shingle kernel runs once (the
    # _ordered_sets idiom, operators/setjoin.py)
    spans = reuse(spans)
    dup = (
        spans.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("shingle")
    )
    starts = (
        spans.join(dup, "shingle", "leftsemi")
        .groupBy("doc_id")
        # posexplode is 0-based; store 1-based starts to match token index
        .agg(F.collect_set(F.col("pos") + 1).alias("starts"))
    )
    # per-doc rebuild as an Arrow kernel (guide §4.2): the expression
    # form ran four interpreted higher-order functions per row
    # (sequence + filter-with-exists + transform + concat_ws). The
    # kernel reproduces it exactly: token j (1-based) is dropped iff
    # some duplicated start i satisfies i ≤ j < i+n; survivors re-join
    # with single spaces; NULL text keeps NULL counts and an empty
    # text_clean (concat_ws over a NULL array).
    id_type = dict(docs.dtypes)["doc_id"]

    def rebuild(batches):
        import re

        import pandas as pd

        split = re.compile(r"[ \t\n\x0b\f\r]+").split
        for pdf in batches:
            ids: list = []
            ntk: list = []
            nrm: list = []
            txt: list = []
            for i, text, st in zip(
                    pdf["doc_id"], pdf[text_col], pdf["starts"]):
                ids.append(i)
                if text is None:
                    ntk.append(None)
                    nrm.append(None)
                    txt.append("")
                    continue
                t = [w for w in split(text) if w]
                drop = set()
                for s0 in st:
                    drop.update(range(s0, min(s0 + n, len(t) + 1)))
                kept = [tok for j, tok in enumerate(t, 1) if j not in drop]
                ntk.append(len(t))
                nrm.append(len(t) - len(kept))
                txt.append(" ".join(kept))
            yield pd.DataFrame({
                "doc_id": ids,
                "n_tokens": pd.array(ntk, dtype="Int64"),
                "n_removed": pd.array(nrm, dtype="Int64"),
                "text_clean": txt,
            })

    joined = (
        docs.select("doc_id", text_col)
        .join(starts, "doc_id", "left")
        .withColumn(
            "starts",
            F.coalesce(F.col("starts"), F.array().cast("array<int>")))
    )
    return joined.mapInPandas(
        rebuild,
        f"doc_id {id_type}, n_tokens bigint, n_removed bigint, "
        "text_clean string",
    )


def url_host(url: Column) -> Column:
    """Lowercased host (no port) of a URL column; '' when unparseable."""
    return F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)", 1))


def normalize_url(url: Column) -> Column:
    """Canonicalize a URL with the standard safe (RFC 3986 §6) steps:

    1. strip the fragment (``#...``),
    2. lowercase the scheme and the host (path/query case preserved),
    3. drop the default port (``:80`` for http, ``:443`` for https),
    4. drop a single trailing slash from a non-root path,
    5. empty path → ``/``.

    Pure column algebra (regexp_extract + concat), so it runs inside
    whole-stage codegen and an SQL oracle reproduces it exactly.
    """
    scheme = F.lower(F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    host = url_host(url)
    port = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/:?#]*:(\d+)", 1)
    # path+query, fragment excluded
    pathq = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)", 1)
    default = (
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
        | (port == "")
    )
    portpart = F.when(default, F.lit("")).otherwise(F.concat(F.lit(":"), port))
    path_norm = F.when(pathq == "", F.lit("/")).otherwise(
        F.when(
            (F.length(pathq) > 1) & pathq.endswith("/"),
            pathq.substr(F.lit(1), F.length(pathq) - 1),
        ).otherwise(pathq)
    )
    return F.concat(scheme, F.lit("://"), host, portpart, path_norm)


# PII patterns, ordered: each scrub pass runs on the PREVIOUS pass's
# output (an email's digits must not later count as a phone). Patterns
# restrict to the syntax subset where Java regex (Spark) and RE2
# (DuckDB) agree exactly: character classes, bounded repeats, \b on
# ASCII — no backrefs, no lookaround, so both engines produce identical
# matches and the scrubbed text is hash-identical cross-engine.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[- ]\d{3,4}[- ]\d{4}\b", "<PHONE>"),
]


def pii_scrub(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Redact emails, IPv4 addresses, and phone-shaped numbers from a
    text column — the compliance pass every web-scraped training corpus
    runs before the tokenizer (emails and IPs are the top memorization-
    extraction targets; Carlini et al. 2021). Returns
    ``(id, text_scrubbed, n_email, n_ipv4, n_phone)``.

    Reference parity note: the reference ingests structured NVD/MITRE
    records with no PII surface (/root/reference/data_collection/
    cve_collection.py); this operator is part of the web-scale graft's
    curation family, not a port.

    Scale shape: pure per-row JVM column algebra — three
    ``regexp_replace`` passes and three ``regexp_count``s inside one
    projection, no UDF, no shuffle, whole-stage codegen end to end.
    Counts are taken on the input of each pass (post-prior-scrubs), so
    they sum to the number of replacements actually made.
    """
    col = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.regexp_count(col, F.lit(pat)).cast("bigint")
                      .alias(f"n_{name}"))
        col = F.regexp_replace(col, pat, token)
    return docs.select(
        F.col(id_col), col.alias("text_scrubbed"), *counts)


def dedup_paragraphs(docs: DataFrame, min_docs: int = 2,
                     text_col: str = "text", id_col: str = "doc_id",
                     sep: str = "\n\n") -> DataFrame:
    """CCNet-style paragraph-level corpus dedup (Wenzek et al. 2020
    §4.1): split each document on ``sep``, normalize every paragraph
    (collapse whitespace, trim, lowercase), and CUT every paragraph
    whose normalized form appears in ≥ ``min_docs`` distinct documents
    — the standard boilerplate-removal pass (nav bars, cookie banners,
    copyright footers repeat across a host; prose does not). Survivors
    keep their original order. Returns
    ``(doc_id, n_paras, n_removed, text_clean)``; a document whose
    every paragraph was boilerplate survives with ``text_clean = ''``.

    This is the paragraph-granularity sibling of
    :func:`remove_duplicated_spans` (token n-grams): CCNet dedups at
    paragraph level FIRST because it is ~50× cheaper (one key per
    paragraph, not per token position) and removes most boilerplate
    before the expensive passes run.

    Reference parity note: the reference ingests structured records
    with no free-text curation (/root/reference/data_collection/); this
    operator is part of the web-scale graft's curation family.

    Scale shape: two shuffles. (1) the duplicate-count aggregation is
    keyed by the normalized paragraph itself with map-side partial
    aggregation, so a boilerplate paragraph occurring 10^9 times sends
    one row per upstream partition to its reducer, not 10^9; (2) the
    reassembly groups by doc id (unique, well-spread). The anti-join
    probe against the hot-paragraph set broadcasts under AQE whenever
    the boilerplate table is small — which it is by construction: only
    paragraphs crossing the ``min_docs`` threshold. Pure JVM column
    algebra (split/posexplode/array_sort/array_join), no UDFs, and the
    paragraph text rides the count shuffle only once as the key.
    """
    # \Q...\E-quote the separator: F.split takes a Java REGEX while the
    # reassembly below joins with the LITERAL sep — an unquoted sep
    # containing metacharacters ('||', '. ') would split and rejoin
    # inconsistently. \E inside the literal sep is closed/reopened.
    sep_rx = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    paras = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep_rx, -1)).alias("pos", "para"),
    ).withColumn(
        "norm", F.lower(F.trim(F.regexp_replace(F.col("para"), r"\s+", " ")))
    )
    hot = (
        paras.groupBy("norm")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("norm")
    )
    kept = (
        paras.join(hot, "norm", "left_anti")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda x: x["para"],
                ),
                sep,
            ).alias("text_clean"),
        )
    )
    totals = paras.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_paras"))
    return totals.join(kept, id_col, "left").select(
        F.col(id_col),
        F.col("n_paras"),
        (F.col("n_paras") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("bigint").alias("n_removed"),
        F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
    )
