"""Document deduplication family (training-data pipeline operators).

These operate on a ``documents(doc_id, text, ...)`` table (the driver's
/root/testdata documents.parquet shape). All hash primitives are expressed
with engine-portable md5 so the DuckDB oracle can reproduce them exactly
(__spark_entry__.oracle_sql):

    h32(s) = int(md5(s)[:8], 16)   — a deterministic 32-bit hash

Four levels, cheapest-first (each a standard web-scale technique):
- exact:      md5(text) groupBy — one shuffle on the digest.
- ngram jaccard: shingle explode + self-join on shingle + pair groupBy.
- minhash LSH: k independent min-hashes over shingles, banded; candidate
  pairs share a band bucket — the self-join is on (band, signature) so the
  shuffle never pairs dissimilar docs (the 10^12-scale path).
- simhash:    64→16-bit projection of token hashes; near-dups share the
  fingerprint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import reuse


def h32(c: Column) -> Column:
    """Portable 32-bit hash: first 8 hex chars of md5 as a bigint.
    DuckDB equivalent: ('0x' || substr(md5(x),1,8))::BIGINT."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def tokens(c: Column) -> Column:
    """Whitespace tokenization (documents are space-separated)."""
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def shingles(c: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings joined by single spaces.

    Documents shorter than ``n`` tokens yield an EMPTY array: the guard
    matters because ``sequence(0, size-n)`` with ``size < n`` would emit
    a *descending* [0, -1] and ``slice(start=0)`` throws — short docs
    are rare in the driver tables but routine in a real web corpus.

    The token array is LET-BOUND by passing it through a one-element
    outer ``transform``: the inner slice then references the outer
    lambda's variable (evaluated once per row) instead of the raw
    split+filter expression. Catalyst does not share subexpressions
    across lambda scopes, so the naive form re-tokenized the text once
    per shingle POSITION — O(tokens²) splits per row; measured 2-6×
    on every shingle consumer at sf0.1 under the frozen bench protocol
    (dedup_minhash 6.30 → 2.14 s, dedup_minhash_xxh 4.31 → 0.75 s,
    dedup_span_apply 9.34 → 2.92 s, repetition 5.33 → 1.70 s,
    dup_shingles 5.38 → 1.59 s).
    """
    def window(toks: Column) -> Column:
        idx = F.when(
            F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
        )

    return F.get(F.transform(F.array(tokens(c)), window), 0)


def shingle_rows(
    df: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = False,
    pos: bool = False,
) -> DataFrame:
    """Exploded word-``n``-gram rows as an Arrow kernel —
    ``(id, [pos,] shingle)`` — the shared fast path for every consumer
    of ``explode(shingles(text, n))`` (optimization round 6, guide
    §4.2: the interpreted higher-order-function form re-tokenizes and
    window-joins per row with no whole-stage codegen and was the
    dominant cost of the span-dedup/overlap family).

    Emits the IDENTICAL row multiset as the expression forms it
    replaces: tokens split on the ASCII whitespace class Java's ``\\s``
    matches; shingles are the ``" ".join`` of ``n`` consecutive tokens
    in document order; ``distinct=True`` keeps each doc's first
    occurrences (``explode(array_distinct(...))``); ``pos=True`` adds
    the 0-based window index (``posexplode``). NULL/short texts emit no
    rows, exactly like exploding a NULL/empty array. ``n=1`` degrades
    to plain tokens. Stays a map over (id, text) only — no shuffle, no
    extra columns across the Python boundary (guide §4.1).
    """
    id_type = dict(df.dtypes)[id_col]
    schema = (f"id {id_type}, pos int, token string" if pos
              else f"id {id_type}, token string")

    def part(batches):
        import re

        import pandas as pd

        split = re.compile(r"[ \t\n\x0b\f\r]+").split
        for pdf in batches:
            ids: list = []
            poss: list = []
            toks: list = []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                t = [w for w in split(txt) if w] if txt is not None else []
                if len(t) < n:
                    continue
                if n == 1:
                    sh = t
                else:
                    sh = [" ".join(t[j : j + n])
                          for j in range(len(t) - n + 1)]
                if distinct:
                    sh = list(dict.fromkeys(sh))
                ids.extend([i] * len(sh))
                if pos:
                    poss.extend(range(len(sh)))
                toks.extend(sh)
            out = {"id": ids}
            if pos:
                out["pos"] = pd.array(poss, dtype="int32")
            out["token"] = toks
            yield pd.DataFrame(out)

    return df.select(id_col, text_col).mapInPandas(part, schema)


def exact_dedup_apply(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The APPLY step of exact dedup: return the corpus with one keeper
    per byte-identical group (min doc_id — the A3 deterministic winner).
    One digest shuffle with map-side partial min; the keeper semi-join is
    on doc_id (unique, well-spread)."""
    keepers = (
        docs.select(F.md5(F.col(text_col)).alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return docs.join(keepers, "doc_id", "leftsemi")


def near_duplicate_keepers(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    hasher: str = "md5",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """End-to-end near-dup removal — the composition a 10^12-doc training
    pipeline actually runs: MinHash-LSH candidate pairs → connected
    components over the pair graph (transitive near-dup clusters) → keep
    the MIN doc_id per cluster, plus every unpaired doc.

    Returns (doc_id, cluster_id) for KEPT docs; cluster_id is the min
    doc_id of the doc's near-dup cluster (its own id when unpaired).
    Every stage is the scale path: banded join (shuffle tracks true
    near-dups, not |docs|²), min-label propagation (no single-reducer
    hotspots), keeper choice inside the CC aggregate."""
    from .canonicalize import connected_components

    pairs = minhash_lsh_pairs(docs, num_hashes, bands, n, text_col,
                              hasher, sigs=sigs)
    cc = connected_components(
        pairs.select(F.col("doc_a").cast("string").alias("src"),
                     F.col("doc_b").cast("string").alias("dst"))
    )
    # per cluster: keeper = min doc id (string min != numeric min, so cast
    # back and take the numeric min per component)
    members = cc.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("component"),
    )
    keepers = members.groupBy("component").agg(
        F.min("doc_id").alias("keeper_id"))
    clustered = (
        members.join(keepers, "component")
        .filter(F.col("doc_id") == F.col("keeper_id"))
        .select("doc_id", F.col("keeper_id").alias("cluster_id"))
    )
    unpaired = (
        docs.join(members.select("doc_id"), "doc_id", "leftanti")
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    return clustered.unionByName(unpaired)


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents; keeper = min doc_id (A3-style
    deterministic winner). Returns (digest, keeper_id, dup_ids, n)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("digest"), F.col("doc_id"))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.sort_array(F.collect_list("doc_id")).alias("dup_ids"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") > 1)
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5, text_col: str = "text"
) -> DataFrame:
    """Exact n-gram Jaccard over all candidate pairs sharing ≥1 shingle.

    Correct but quadratic in the worst case — the small-scale oracle
    baseline that minhash_lsh_pairs approximates. Returns
    (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    sh = shingle_rows(docs, n, text_col, distinct=True).select(
        F.col("id").alias("doc_id"), F.col("token").alias("sh"))
    # sh feeds THREE consumers (sizes + both join sides): reuse it so
    # the shingle kernel runs once (the setjoin._ordered_sets idiom)
    sh = reuse(sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 16, n: int = 3, text_col: str = "text",
    hasher: str = "md5",
) -> DataFrame:
    """k min-hashes per doc, expressed with higher-order functions — no
    explode, no shuffle.

    hasher="md5" (default, oracle-portable): one md5 yields FOUR
    independent 32-bit hashes (digest slices), so hash j is

        int(md5(f"{j//4}:" + shingle)[8*(j%4) : 8*(j%4)+8], 16)

    — ceil(k/4) digests per shingle instead of k (measured 4× on the md5
    budget, the stage's dominant cost).

    hasher="xxhash64" (production fast path): hash j = xxhash64(j, shingle)
    — a native non-cryptographic hash, ~an order of magnitude cheaper in
    Catalyst than md5. NOT reproducible by the DuckDB oracle (xxhash64's
    seeding is a Spark implementation detail), so correctness runs keep
    md5; flip the flag when throughput matters.

    The shingle array is MATERIALIZED in its own projection before the k
    min-hash expressions: each expression references it, and Catalyst's
    CollapseProject keeps a multiply-referenced non-trivial alias as a
    projection boundary — inlining it (round-1 shape) re-tokenized and
    re-shingled every row once PER HASH FAMILY (measured 3.3× on this
    stage at sf0.1). The md5 DIGEST ARRAYS get the same treatment: the 4
    slices of family p's digest live in 4 separate transform lambdas, and
    CSE does not share subexpressions across lambda scopes — without the
    materialized `_dig{p}` column every digest was computed once per
    SLICE, 4× the md5 budget (measured ~15% wall on this stage at sf0.1
    with k=4 — shingling dominates there; the md5 saving grows linearly
    with k since slices amortize 4 hashes per digest)."""
    pre = docs.select(
        "doc_id", F.array_distinct(shingles(F.col(text_col), n)).alias("_sh")
    )
    sh = F.col("_sh")

    if hasher == "xxhash64":
        def min_hash_x(j: int) -> Column:
            # NB: unary lambdas only — pyspark treats a 2-arg transform
            # lambda as (element, index)
            return F.array_min(F.transform(
                sh, lambda s: F.xxhash64(F.lit(j), s)
            ))

        sig = F.array(*[min_hash_x(j) for j in range(num_hashes)])
        return pre.select("doc_id", sig.alias("sig"))

    # md5 path: Arrow kernel (optimization round 6, guide §4.2). The
    # expression form (tokenize → shingle windows → per-family md5
    # transform → per-slice conv/array_min) runs through interpreted
    # higher-order functions — no whole-stage codegen, one allocation
    # per element per lambda — and dominated every minhash consumer's
    # first materialization (~2.4 s of dedup_minhash's ~3 s at sf0.1).
    # The kernel reproduces the identical values: tokens split on the
    # ASCII whitespace class Java's \s matches, shingles are the same
    # " ".join of n consecutive tokens deduped, and hash j is the j%4-th
    # big-endian uint32 of md5(f"{j//4}:" + shingle) — exactly
    # int(md5_hex[8*(j%4) : 8*(j%4)+8], 16), the engine-portable h32
    # family the oracle reproduces. Docs with no shingle (< n tokens, or
    # NULL text) yield [NULL]*k, matching array_min over an empty array.
    # Stays a map over (doc_id, text) only — no shuffle, no extra
    # columns across the boundary (guide §4.1).
    n_fams = (num_hashes + 3) // 4
    id_type = dict(docs.dtypes)["doc_id"]

    def part(batches):
        import hashlib
        import re

        import numpy as np
        import pandas as pd

        split = re.compile(r"[ \t\n\x0b\f\r]+").split
        md5 = hashlib.md5
        prefixes = [f"{p}:".encode() for p in range(n_fams)]
        empty = [None] * num_hashes
        for pdf in batches:
            ids = pdf["doc_id"]
            sigs: list = []
            for txt in pdf[text_col]:
                t = [w for w in split(txt) if w] if txt is not None else []
                if len(t) < n:
                    sigs.append(empty)
                    continue
                seen = dict.fromkeys(
                    " ".join(t[j : j + n]) for j in range(len(t) - n + 1))
                mins: list = []
                for pre_b in prefixes:
                    buf = b"".join(
                        md5(pre_b + s.encode()).digest() for s in seen)
                    arr = np.frombuffer(buf, dtype=">u4").reshape(-1, 4)
                    mins.extend(int(v) for v in arr.min(axis=0))
                sigs.append(mins[:num_hashes])
            yield pd.DataFrame({"doc_id": ids, "sig": sigs})

    return docs.select("doc_id", text_col).mapInPandas(
        part, f"doc_id {id_type}, sig array<bigint>")


def banded_signatures(
    sigs: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """(doc_id, sig) → (doc_id, band, bsig): each signature sliced into
    ``bands`` equal row-groups, each group concatenated into one band
    key. The banded table IS the LSH index — a real pipeline
    materializes it once (e.g. ``GraphCatalog.write_table``) and every
    ingest batch joins against it (``incremental_near_dup_pairs``)."""
    rows_per_band = num_hashes // bands
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        "_",
                        *[F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                          for r in range(rows_per_band)],
                    ).alias("bsig"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bsig")


def incremental_near_dup_pairs(
    new_docs: DataFrame,
    base_docs: DataFrame | None = None,
    base_banded: DataFrame | None = None,
    num_hashes: int = 4,
    bands: int = 2,
    n: int = 3,
    text_col: str = "text",
    hasher: str = "md5",
) -> DataFrame:
    """Dedup-on-INGEST: LSH candidate pairs touching a new batch —
    new×existing plus new×new — WITHOUT re-examining existing×existing.
    Provably equals the full-corpus ``minhash_lsh_pairs`` over
    old ∪ new RESTRICTED to pairs with at least one new side
    (signatures are per-doc, so banding the batch separately changes
    nothing — pinned by pytest and the driver oracle). Returns distinct
    ``(doc_a, doc_b)``, ``doc_a < doc_b``.

    This is the shape that makes continuous curation affordable: the
    full self-join re-pays the whole corpus every day, while this pays
    ``|batch| × collision rate`` — against a PRE-BUILT banded index
    (pass ``base_banded``, e.g. read back from the snapshot catalog
    where the build job materialized it; ``base_docs`` recomputes it
    inline for self-contained use). Doc-id sets must be disjoint
    (ingest ids are new by construction).

    Scale shape: one equi-join new-banded × base-banded on
    (band, bsig) — the batch side is small, so AQE broadcasts it —
    plus the batch's own tiny self-join; the base corpus is touched
    only through the index.
    """
    if (base_docs is None) == (base_banded is None):
        raise ValueError("pass exactly one of base_docs / base_banded")
    new_banded = banded_signatures(
        minhash_signatures(new_docs, num_hashes, n, text_col, hasher),
        num_hashes, bands,
    ).persist()
    new_banded.count()  # materialize: feeds both joins below
    if base_banded is None:
        base_banded = banded_signatures(
            minhash_signatures(base_docs, num_hashes, n, text_col, hasher),
            num_hashes, bands,
        )
    nb, bb = new_banded.alias("n"), base_banded.alias("e")
    cross = (
        nb.join(
            bb,
            (F.col("n.band") == F.col("e.band"))
            & (F.col("n.bsig") == F.col("e.bsig")),
        )
        .select(
            F.least("n.doc_id", "e.doc_id").alias("doc_a"),
            F.greatest("n.doc_id", "e.doc_id").alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    n2 = new_banded.alias("m")
    within = (
        nb.join(
            n2,
            (F.col("n.band") == F.col("m.band"))
            & (F.col("n.bsig") == F.col("m.bsig"))
            & (F.col("n.doc_id") < F.col("m.doc_id")),
        )
        .select(F.col("n.doc_id").alias("doc_a"), F.col("m.doc_id").alias("doc_b"))
    )
    return cross.unionByName(within).distinct()


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    hasher: str = "md5",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs agreeing on all rows of ≥1 band.

    Scale path: the join key is (band_id, band_signature) — documents only
    meet if a band collides, so shuffle volume tracks true near-duplicates,
    not |docs|². Returns distinct (doc_a, doc_b), doc_a < doc_b.

    ``sigs``: pass a precomputed ``minhash_signatures`` DataFrame
    (doc_id, sig) to reuse an existing signature stage — a real pipeline
    computes signatures ONCE and feeds both the per-doc dedup table and
    the banded pair join. The banded table is persisted before the
    self-join: both join sides reference the same subtree, and without
    materialization Spark evaluates the (md5-heavy) signature expressions
    twice — measured ~2× on this stage.
    """
    rows_per_band = num_hashes // bands
    if sigs is None:
        sigs = minhash_signatures(docs, num_hashes, n, text_col, hasher)
    banded = banded_signatures(sigs, num_hashes, bands).persist()
    # materialize BEFORE the self-join: the join's two scans of this cache
    # race otherwise, and partitions not yet cached are computed twice
    banded.count()
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash(docs: DataFrame, bits: int = 16, text_col: str = "text",
            hasher: str = "md5") -> DataFrame:
    """bits-bit SimHash over whitespace tokens (token hash = h32).

    bit b of the fingerprint = 1 iff sum over tokens of
    (±1 by bit b of h32(token)) > 0. Pure column algebra (aggregate over
    the token array) — portable to the SQL oracle via unnest + sum.
    hasher="xxhash64" swaps the token hash for the native fast hash
    (different fingerprints, same statistical behavior; not
    oracle-portable).
    """
    # hash each token ONCE, MATERIALIZED in its own projection — the bit
    # sums reference the array, and inlining (round-1 shape) re-tokenized
    # + re-hashed every row once per bit
    if hasher != "xxhash64":
        # md5 path: Arrow kernel (optimization round 6, guide §4.2 —
        # the minhash_signatures precedent). The fold below runs one
        # interpreted zip_with step PER TOKEN per doc; the kernel
        # reproduces the identical integers: same tokenizer, token hash
        # = big-endian first-uint32 of md5 (== h32), bit b of the
        # fingerprint set iff Σ_tokens(±1 by bit b) > 0 — all-integer
        # arithmetic, so order plays no role. NULL text yields NULL
        # (the expression fold's aggregate-over-NULL-array), no-token
        # docs yield 0 (all sums 0, no bit set).
        id_type = dict(docs.dtypes)["doc_id"]

        def sim_part(batches, bits=bits):
            import hashlib
            import re

            import numpy as np
            import pandas as pd

            split = re.compile(r"[ \t\n\x0b\f\r]+").split
            md5 = hashlib.md5
            barange = np.arange(bits, dtype="int64")
            weights = (np.int64(1) << barange)
            for pdf in batches:
                ids: list = []
                fps: list = []
                for i, txt in zip(pdf["doc_id"], pdf[text_col]):
                    ids.append(i)
                    if txt is None:
                        fps.append(None)
                        continue
                    t = [w for w in split(txt) if w]
                    if not t:
                        fps.append(0)
                        continue
                    h = np.array(
                        [int.from_bytes(md5(w.encode()).digest()[:4], "big")
                         for w in t], dtype="int64")
                    sums = (((h[:, None] >> barange[None, :]) & 1) * 2
                            - 1).sum(axis=0)
                    fps.append(int(weights[sums > 0].sum()))
                yield pd.DataFrame({
                    "doc_id": pd.array(ids, dtype=(
                        "Int64" if id_type == "bigint" else None)),
                    "simhash": pd.array(fps, dtype="Int64"),
                })

        return docs.select("doc_id", text_col).mapInPandas(
            sim_part, f"doc_id {id_type}, simhash bigint")

    hash_expr = F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t))
    pre = docs.select("doc_id", hash_expr.alias("_th"))

    # ONE fold over the token-hash array carrying all `bits` running sums
    # as the accumulator (round-3 shape ran `bits` independent aggregate
    # passes — one full array traversal per bit). Per-bit arithmetic and
    # per-plane float/int addition ORDER are identical to the unfused
    # form (sum_b accumulates token 0,1,2,… contributions in sequence),
    # so fingerprints are bit-identical and the oracle SQL is unchanged.
    bit_idx = F.array(*[F.lit(b) for b in range(bits)])
    zero = F.array(*[F.lit(0).cast("bigint") for _ in range(bits)])
    sums = F.aggregate(
        F.col("_th"),
        zero,
        lambda acc, h: F.zip_with(
            acc,
            bit_idx,
            lambda a, b: a
            + F.when(
                F.call_function("shiftright", h, b).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        ),
    )
    weights = F.array(*[F.lit(2 ** b).cast("bigint") for b in range(bits)])
    fp = F.aggregate(
        F.zip_with(
            sums, weights,
            lambda s, w: F.when(s > 0, w).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return pre.select("doc_id", fp.alias("simhash"))


def simhash_duplicates(docs: DataFrame, bits: int = 16, text_col: str = "text") -> DataFrame:
    """Docs sharing an identical simhash fingerprint (hamming distance 0;
    ``simhash_near_dup_pairs`` generalizes to distance ≤ k)."""
    fp = simhash(docs, bits, text_col)
    return (
        fp.groupBy("simhash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
             F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


def simhash_near_dup_pairs(
    docs: DataFrame, bits: int = 16, k: int = 2, text_col: str = "text",
    hasher: str = "md5", fps: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs at hamming distance ≤ k — the production
    simhash dedup query (distance-0 grouping misses one-bit flips from a
    single changed token).

    Scale shape (the Manku/Jain/Sarma banding scheme): split the bits-bit
    fingerprint into k+1 contiguous chunks; by pigeonhole, two fingerprints
    within distance k agree EXACTLY on ≥1 chunk, so candidates only meet
    in a (chunk_id, chunk_value) bucket — the join shuffle keys on chunk
    collisions (expected bucket size |docs| / 2^(bits/(k+1))), never
    |docs|². Candidates are then verified exactly: popcount of the XOR'd
    fingerprints ≤ k. Both engines compute the verification identically
    (bit_count(xor) here = Spark bit_count of bitwiseXOR).

    ``fps``: pass a precomputed ``simhash`` DataFrame (doc_id, simhash) to
    reuse an existing fingerprint stage. The banded table is persisted
    before the self-join — both sides reference the same subtree, and
    without materialization the (tokenize+hash-heavy) fingerprint
    expressions evaluate twice.

    Returns distinct (doc_a, doc_b, hamming), doc_a < doc_b, hamming ≤ k
    (0 included — exact dups are near-dups too)."""
    n_chunks = k + 1
    w = bits // n_chunks
    if fps is None:
        fps = simhash(docs, bits, text_col, hasher)

    def chunk_val(c: int) -> Column:
        width = bits - c * w if c == n_chunks - 1 else w
        return (
            F.call_function("shiftright", F.col("simhash"), F.lit(c * w))
            .bitwiseAND(F.lit((1 << width) - 1))
        )

    banded = fps.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"), chunk_val(c).alias("cval"))
            for c in range(n_chunks)
        ])).alias("bk"),
    ).select("doc_id", "simhash", "bk.chunk", "bk.cval").persist()
    banded.count()  # materialize before the self-join (no racing scans)
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("bigint")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cval") == F.col("b.cval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= k)
        .distinct()
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003): per window of ``w`` consecutive k-gram hashes, select
    the minimum hash (rightmost occurrence on ties), then emit each
    selected (position, hash) once per document.

    The winnowing guarantee — any shared token run of length
    ``k + w - 1`` or more produces at least one SHARED fingerprint —
    is what makes this the standard copy-detection sketch: unlike
    MinHash it localizes WHERE the overlap is (the position rides
    along), and unlike the full k-gram set its density is ~2/(w+1).

    Shuffle-free by construction: the hash array, the per-window minima,
    and the per-doc dedup all happen inside row-local array algebra
    (whole-stage codegen), so the operator scans the corpus exactly once
    with ZERO Exchange nodes — at 100 TB it is embarrassingly parallel.
    The rightmost-min tie rule is encoded arithmetically:
    ``comb[i] = h32(gram_i) * 2^24 + (2^24 - 1 - i)`` — smaller hash
    wins, ties prefer larger i — which bounds documents at 2^24 k-grams
    (a 16M-token web page is a parser failure, not a document) and
    keeps ``comb`` well inside int64 (h32 < 2^32 → comb < 2^56).

    Returns ``(doc_id, pos, fp)``: 0-based k-gram position and the
    32-bit fingerprint hash, one row per distinct selected window min.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1: k={k}, w={w}")
    enc, tie = 16777216, 16777215  # 2^24, 2^24 - 1
    # Arrow kernel (optimization round 6, guide §4.2 — the
    # minhash/simhash precedent): the expression form paid one
    # interpreted md5-transform step per k-gram PLUS a nested
    # transform/slice/array_min per window. The kernel reproduces the
    # identical integers: same tokenizer/shingling, h32 = big-endian
    # first-uint32 of md5, comb_i = h32(gram_i)·2^24 + (2^24-1-i),
    # rightmost-min tie rule via the min over each length-w window,
    # per-doc dedup in first-occurrence order (order is irrelevant —
    # every consumer aggregates or joins). Docs with < k+w-1 tokens
    # emit nothing, exactly like the empty-starts expression branch.
    id_type = dict(docs.dtypes)[id_col]

    def win_part(batches):
        import hashlib
        import re

        import numpy as np
        import pandas as pd

        split = re.compile(r"[ \t\n\x0b\f\r]+").split
        md5 = hashlib.md5
        for pdf in batches:
            ids: list = []
            poss: list = []
            fps: list = []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                t = [x for x in split(txt) if x] if txt is not None else []
                if len(t) < k:
                    continue
                gs = (t if k == 1 else
                      [" ".join(t[j:j + k]) for j in range(len(t) - k + 1)])
                if len(gs) < w:
                    continue
                h = np.array(
                    [int.from_bytes(md5(g.encode()).digest()[:4], "big")
                     for g in gs], dtype="int64")
                comb = h * enc + (tie - np.arange(len(gs), dtype="int64"))
                mins = np.lib.stride_tricks.sliding_window_view(
                    comb, w).min(axis=1)
                sel = list(dict.fromkeys(mins.tolist()))
                ids.extend([i] * len(sel))
                poss.extend(tie - s % enc for s in sel)
                fps.extend(s // enc for s in sel)
            yield pd.DataFrame({
                "doc_id": pd.array(ids, dtype=(
                    "Int64" if id_type == "bigint" else None)),
                "pos": pd.array(poss, dtype="Int64"),
                "fp": pd.array(fps, dtype="Int64"),
            })

    return docs.select(F.col(id_col).alias(id_col), text_col).mapInPandas(
        win_part, f"doc_id {id_type}, pos bigint, fp bigint")
