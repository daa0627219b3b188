"""Exact set-similarity join via prefix filtering (PPJoin-lite).

The LSH family (operators/dedup.py, similarity.py) finds near-dups
probabilistically — recall < 1 by construction. When the pipeline
needs EVERY pair above a Jaccard threshold (legal dedup obligations,
eval-set decontamination audits), the scale technique is the prefix
filter (Chaudhuri et al. 2006; Bayardo et al. 2007): order every
document's token set by one global total order, keep only the first
``n - ceil(t*n) + 1`` tokens as its PREFIX, and observe that two sets
with Jaccard >= t MUST share a prefix token — so the candidate set is
an equi-join on prefix tokens, not all pairs, with zero recall loss.

Design choices for exactness and scale:
- the global order is (document frequency, token): rare-first
  minimizes candidates (hot tokens fall out of prefixes). Correctness
  needs only SOME consistent total order, so no global rank is
  materialized — each doc sorts its own tokens by the joined (df,
  token) struct. The df table is vocabulary-sized.
- the threshold is a rational ``num/den`` (60/100, never a float);
  the verify step is pure integers: ``den*|a∩b| >= num*(|a|+|b|-|a∩b|)``
  and the published ``jaccard_e6`` is a bigint div.
- size filter rides the candidate join (``t*|a| <= |b| <= |a|/t`` in
  cross-multiplied integer form), killing size-incompatible pairs
  before dedup.
- verification joins candidate pairs back to the doc→sorted-set map
  twice and intersects arrays JVM-side. Prefix-join fan-out is bounded
  by the rarity of prefix tokens; hot-token skew is precisely what the
  rare-first order suppresses, and AQE splits what remains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import reuse


def _distinct_elements(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int | None
) -> DataFrame:
    """Exploded (id, token) rows — each doc's DISTINCT token/shingle set.

    Arrow kernel (optimization round 6, guide §4.2): the expression form
    (split → windowed concat_ws transform → array_distinct → explode)
    runs through interpreted higher-order functions — no whole-stage
    codegen, per-element allocations — and was the dominant cost of both
    setjoin queries (~1.5 s of a 5 s wall at sf0.1). The kernel emits the
    identical row set: the tokenizer splits on the same ASCII whitespace
    class Java's \\s matches, shingles are the same ``" ".join`` of n
    consecutive tokens, and dedup/order are irrelevant downstream (every
    consumer aggregates). Stays a map — no shuffle, schema (id, token).
    """
    n = shingle_n

    def part(batches):
        import re

        import pandas as pd

        split = re.compile(r"[ \t\n\x0b\f\r]+").split
        for pdf in batches:
            ids: list = []
            toks: list = []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                t = [w for w in split(txt) if w] if txt is not None else []
                if n is None:
                    seen = dict.fromkeys(t)
                elif len(t) >= n:
                    seen = dict.fromkeys(
                        " ".join(t[j : j + n]) for j in range(len(t) - n + 1))
                else:
                    continue
                ids.extend([i] * len(seen))
                toks.extend(seen)
            yield pd.DataFrame({"id": ids, "token": toks})

    return df.select(id_col, text_col).mapInPandas(part, "id long, token string")


def _ordered_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int | None
) -> DataFrame:
    """(id, toks, n): each doc's distinct element set sorted rare-first
    by the (document frequency, token) total order — the shared front
    end of the prefix-filter joins."""
    pairs_tok = _distinct_elements(df, text_col, id_col, shingle_n)
    dfreq = pairs_tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"))
    ordered = (
        pairs_tok.join(dfreq, "token")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "token"))),
                lambda s: s["token"],
            ).alias("toks")
        )
        .select(
            "id",
            "toks",
            F.size("toks").cast("bigint").alias("n"),
        )
    )
    # `ordered` feeds THREE consumers (prefix + both verify sides):
    # reuse it so the tokenize+sort subtree runs once (A/B at sf0.1:
    # 17.5→15.0 s cold, 7.6→7.1 s warm)
    return reuse(ordered)


def similarity_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_num: int = 60,
    threshold_den: int = 100,
    shingle_n: int | None = None,
) -> DataFrame:
    """All pairs with set Jaccard >= num/den — EXACT (prefix filtering
    loses nothing). Set elements are word tokens, or word ``shingle_n``-
    grams when set — unigram sets over a small vocabulary are nearly
    identical for every document pair (the prefix filter can prune
    nothing), while shingle sets are what production similarity joins
    run on. Returns ``(doc_a, doc_b, inter, union_sz, jaccard_e6)``
    with ``doc_a < doc_b``."""
    if not (0 < threshold_num <= threshold_den):
        raise ValueError(
            f"threshold must be in (0, 1]: {threshold_num}/{threshold_den}")
    num, den = threshold_num, threshold_den
    ordered = _ordered_sets(df, text_col, id_col, shingle_n)
    # prefix length n - ceil(num*n/den) + 1, ceil as (x + den - 1) div den;
    # posexplode keeps each prefix token's 1-based POSITION in the doc's
    # rare-first order for the PPJoin position filter below
    prefix = ordered.select(
        "id",
        "n",
        F.posexplode(
            F.slice(
                "toks",
                1,
                F.greatest(
                    F.lit(0),
                    (
                        F.col("n")
                        - F.expr(f"(({num}L * n) + {den - 1}L) div {den}L")
                        + 1
                    ).cast("int"),
                ),
            )
        ).alias("pos0", "token"),
    ).select("id", "n", (F.col("pos0") + 1).alias("pos"), "token")
    cands = (
        prefix.alias("l")
        .join(prefix.alias("r"), "token")
        .where(
            (F.col("l.id") < F.col("r.id"))
            # size-compatibility: num*|a| <= den*|b| AND num*|b| <= den*|a|
            & (F.lit(num) * F.col("l.n") <= F.lit(den) * F.col("r.n"))
            & (F.lit(num) * F.col("r.n") <= F.lit(den) * F.col("l.n"))
            # PPJoin position filter (exact, no recall loss): a shared
            # token at 1-based positions (i, j) bounds the overlap at
            # 1 + min(n_a - i, n_b - j); Jaccard >= num/den needs
            # overlap >= num*(n_a+n_b)/(num+den), integer-crossed as
            # (num+den)*bound >= num*(n_a+n_b). Candidates whose ONLY
            # shared prefix tokens sit too deep can never verify —
            # killed here, before the distinct and the array intersects.
            & (
                F.lit(num + den)
                * (F.lit(1)
                   + F.least(F.col("l.n") - F.col("l.pos"),
                             F.col("r.n") - F.col("r.pos")))
                >= F.lit(num) * (F.col("l.n") + F.col("r.n"))
            )
        )
        .select(F.col("l.id").alias("doc_a"), F.col("r.id").alias("doc_b"))
    )
    # candidate dedup runs AFTER verification (round-6): a pair sharing
    # several prefix tokens appears once per shared token, but the
    # position filter keeps the multiplicity within a few % of the
    # distinct pair count, so deduplicating the (tiny) verified output
    # replaces a full candidate-sized shuffle with a result-sized one.
    # Every duplicate occurrence computes identical values — the final
    # dropDuplicates yields the same pair set.
    sets = ordered.select("id", "toks", "n")
    return (
        cands.join(
            sets.withColumnsRenamed(
                {"id": "doc_a", "toks": "ta", "n": "na"}), "doc_a")
        .join(
            sets.withColumnsRenamed(
                {"id": "doc_b", "toks": "tb", "n": "nb"}), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ta", "tb")).cast("bigint")
            .alias("inter"),
            (F.col("na") + F.col("nb")).alias("sum_n"),
        )
        .select(
            "doc_a",
            "doc_b",
            "inter",
            (F.col("sum_n") - F.col("inter")).alias("union_sz"),
        )
        .where(
            F.lit(den) * F.col("inter")
            >= F.lit(num) * F.col("union_sz")
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "union_sz",
            F.expr("(inter * 1000000) div union_sz").alias("jaccard_e6"),
        )
    )


def containment_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_num: int = 80,
    threshold_den: int = 100,
    shingle_n: int | None = 3,
) -> DataFrame:
    """All ordered pairs with set CONTAINMENT |src∩dst| / |src| >= num/den
    — EXACT, via the asymmetric prefix filter.

    Jaccard misses quote-inclusion duplication: a 100-token post pasted
    into a 10,000-token page has Jaccard ≈ 0.01 but containment ≈ 1.0,
    and cutting such subsumed documents is a standard web-corpus dedup
    pass the symmetric join cannot express. Containment is asymmetric,
    so the filter is too: a pair with |src∩dst| >= t|src| must share one
    of the first ``n_src - ceil(t*n_src) + 1`` tokens of src's rare-first
    order with SOME token of dst (if all prefix tokens missed, even
    matching every remaining token leaves the intersection below t|src|).
    The candidate join is therefore src-prefix × dst-full-posting: the
    src side is prefix-pruned exactly as in :func:`similarity_join`,
    while the dst side is the full (vocabulary-keyed) posting list —
    bigger fan-in than the symmetric join, but the joined tokens are
    src-prefix tokens, i.e. the RAREST tokens of each src doc, which is
    what bounds the candidate count at corpus scale (hot tokens never
    appear in prefixes). The size gate ``num*n_src <= den*n_dst`` rides
    the candidate join (|src∩dst| <= n_dst forces it).

    Thresholds are rationals; verification is pure bigint arithmetic:
    ``den*|src∩dst| >= num*n_src``. Returns
    ``(src, dst, inter, n_src, containment_e6)`` with src != dst.
    """
    if not (0 < threshold_num <= threshold_den):
        raise ValueError(
            f"threshold must be in (0, 1]: {threshold_num}/{threshold_den}")
    num, den = threshold_num, threshold_den
    ordered = _ordered_sets(df, text_col, id_col, shingle_n)
    prefix = ordered.select(
        "id",
        "n",
        F.posexplode(
            F.slice(
                "toks",
                1,
                F.greatest(
                    F.lit(0),
                    (
                        F.col("n")
                        - F.expr(f"(({num}L * n) + {den - 1}L) div {den}L")
                        + 1
                    ).cast("int"),
                ),
            )
        ).alias("pos0", "token"),
    ).select("id", "n", (F.col("pos0") + 1).alias("pos"), "token")
    posting = ordered.select(
        "id", "n", F.posexplode("toks").alias("pos0", "token")
    ).select("id", "n", (F.col("pos0") + 1).alias("pos"), "token")
    cands = (
        prefix.alias("l")
        .join(posting.alias("r"), "token")
        .where(
            (F.col("l.id") != F.col("r.id"))
            # |src∩dst| <= n_dst, so containment needs num*n_src <= den*n_dst
            & (F.lit(num) * F.col("l.n") <= F.lit(den) * F.col("r.n"))
            # asymmetric position filter (exact): the smallest common
            # element at positions (i, j) bounds the overlap at
            # min(n_src - i, n_dst - j) + 1, and containment needs
            # overlap >= ceil(num*n_src/den) — integer-crossed. That
            # occurrence is always joined (src prefix holds it by the
            # prefix theorem; dst side is the full posting), so killing
            # too-deep occurrences loses no qualifying pair.
            & (
                F.lit(den)
                * (F.lit(1)
                   + F.least(F.col("l.n") - F.col("l.pos"),
                             F.col("r.n") - F.col("r.pos")))
                >= F.lit(num) * F.col("l.n")
            )
        )
        .select(F.col("l.id").alias("src"), F.col("r.id").alias("dst"))
    )
    # dedup after verification — see similarity_join: replaces the
    # candidate-sized distinct shuffle with a result-sized one; every
    # duplicate occurrence verifies to identical values.
    sets = ordered.select("id", "toks", "n")
    return (
        cands.join(
            sets.withColumnsRenamed(
                {"id": "src", "toks": "ts", "n": "n_src"}), "src")
        .join(
            sets.withColumnsRenamed(
                {"id": "dst", "toks": "td", "n": "nd"}), "dst")
        .select(
            "src",
            "dst",
            F.size(F.array_intersect("ts", "td")).cast("bigint")
            .alias("inter"),
            "n_src",
        )
        .where(F.lit(den) * F.col("inter") >= F.lit(num) * F.col("n_src"))
        .dropDuplicates(["src", "dst"])
        .select(
            "src",
            "dst",
            "inter",
            "n_src",
            F.expr("(inter * 1000000) div n_src").alias("containment_e6"),
        )
    )
