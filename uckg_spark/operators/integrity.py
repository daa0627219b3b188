"""Order-independent table fingerprints — reconciliation at copy scale.

After replicating 100 TB between clusters (or between this engine and
another), "did every row land?" cannot be answered by sorting both
sides. The scalable check is a COMMUTATIVE fingerprint: hash each row
canonically, SUM the hashes — addition is order- and
partitioning-independent, so two engines agree iff the multisets of
rows agree (modulo adversarial collisions, which an integrity check —
unlike a security boundary — does not defend against). The KG build's
resume pins its input by file metadata only (``jobs/build_kg.scan_pin``:
path, size, mtime — SURVEY §2 I2); this operator checks the content
itself, as a first-class per-partition-group audit.

Canonical row form: values cast to string, NULL → a sentinel that
cannot collide with data ('\\x00'), joined with the unit separator
'\\x1f', then the portable 32-bit md5 prefix (operators.dedup.h32).
Caller contract: pass engine-stable string renderings (bigints,
strings, pre-rounded integer cents) — raw doubles render differently
across engines and belong nowhere near a checksum.

Scale shape: map-side partial sums make the fingerprint one short
shuffle of |groups| rows; no sort anywhere. Sum overflow is fine up to
~2^31 rows per group in bigint; past that, swap the sum to
decimal(38,0) (the comparison semantics are unchanged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import h32

NULL_SENTINEL = "\x00"
SEP = "\x1f"


def collect_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """ANALYZE-analog: per-column statistics in ONE pass —
    ``(col, n_rows, n_nulls, ndv, min_val, max_val)``, min/max rendered
    as strings so heterogeneous columns share a schema. These are the
    numbers a cost-based optimizer (and a human triaging a 100 TB
    table) needs: row counts bound join sizes, ndv picks broadcast vs
    shuffle, null counts expose broken extractions, min/max seed
    partition pruning.

    Exact on purpose (count_distinct, not approx_count_distinct): the
    HLL sketch would be cheaper at extreme ndv but its registers are
    engine-private (same trade as sketches.py — and the repo already
    offers `kmv_distinct` as the portable approximate path).

    One single-column aggregate per column, unioned (optimization
    round 6): the round-5 wide-row form put every count_distinct into
    ONE aggregate, which Catalyst rewrites through an Expand that
    multiplies the scan by (distinct aggs + 1) and shuffles the
    expanded rows — measured 3x slower at sf0.1. Per-column branches
    each scan exactly one column (columnar pruning) and run a plain
    two-phase distinct aggregate; on a column store the per-column
    re-scan is the cheaper side of the trade at any scale.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    parts = [
        df.agg(
            F.lit(c).alias("col"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col(c).isNull().cast("bigint")).alias("n_nulls"),
            F.count_distinct(F.col(c)).cast("bigint").alias("ndv"),
            F.min(F.col(c)).cast("string").alias("min_val"),
            F.max(F.col(c)).cast("string").alias("max_val"),
        )
        for c in cols
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def table_checksum(
    df: DataFrame,
    cols: list[str],
    group_col: str | None = None,
) -> DataFrame:
    """Commutative fingerprint of ``cols``: ``(grp?, n_rows, checksum)``
    — one row per ``group_col`` value (or a single global row). Two
    tables match iff both columns match per group."""
    if not cols:
        raise ValueError("cols must be non-empty")
    canon = F.concat_ws(
        SEP,
        *[
            F.coalesce(F.col(c).cast("string"), F.lit(NULL_SENTINEL))
            for c in cols
        ],
    )
    keyed = df.select(
        *([F.col(group_col).alias("grp")] if group_col else []),
        h32(canon).alias("h"),
    )
    agg = [
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("h").cast("bigint").alias("checksum"),
    ]
    return keyed.groupBy("grp").agg(*agg) if group_col else keyed.agg(*agg)


def grouped_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group Pearson correlation of two INTEGER signals:
    ``(grp, n, cov_num, varx_num, vary_num, corr_e6)`` — the pairwise
    companion to ``collect_stats`` (is doc length just token count in
    disguise? do two quality signals measure the same thing?), and the
    diagnostic ``fit_linear_e6`` callers should check first (a feature
    pair at |corr| ≈ 1 makes the OLS system ill-conditioned).

    Exactness: the n-scaled moments are exact bigints —
    ``cov_num = n·Σxy − Σx·Σy`` and the two variance numerators
    (the shared n² scale cancels in the ratio). ``corr_e6 =
    floor(1e6 · cov_num / sqrt(varx_num · vary_num))`` does touch
    float64, but both engines evaluate the IDENTICAL op tree on
    identical integers and IEEE sqrt/div/mul are correctly rounded, so
    the result is deterministic cross-engine (the ``quality_fit`` solve
    argument); the exact numerators ride along for callers that need
    rational precision. Degenerate groups (zero variance either side)
    get NULL-free corr_e6 = 0 with the numerators telling the story.

    Scale shape: ONE map-side-combinable aggregate per group — five
    sums; nothing else.
    """
    x = F.col(x_col).cast("bigint")
    y = F.col(y_col).cast("bigint")
    base = df.filter(x.isNotNull() & y.isNotNull())
    agg = base.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(x * x).cast("bigint").alias("sxx"),
        F.sum(y * y).cast("bigint").alias("syy"),
        F.sum(x * y).cast("bigint").alias("sxy"),
    )
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    pre = agg.select(
        "grp", "n",
        cov.alias("cov_num"), vx.alias("varx_num"), vy.alias("vary_num"))
    corr = F.floor(
        F.lit(1_000_000.0) * F.col("cov_num").cast("double")
        / F.sqrt(F.col("varx_num").cast("double")
                 * F.col("vary_num").cast("double"))
    ).cast("bigint")
    return pre.select(
        "grp", "n", "cov_num", "varx_num", "vary_num",
        F.when(
            (F.col("varx_num") > 0) & (F.col("vary_num") > 0), corr
        ).otherwise(F.lit(0)).cast("bigint").alias("corr_e6"),
    )


def contingency_cells(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Exact contingency-table cells for an independence/drift check:
    ``(r, c, observed, r_tot, c_tot, n_tot, dev_num, dev_den)`` where
    ``dev_num/dev_den = (O·N − r_tot·c_tot)² / (N·r_tot·c_tot)`` is the
    cell's chi-square contribution as an EXACT rational (the classic
    χ² = Σ (O−E)²/E with E = r·c/N, cleared of denominators) — "is the
    language mix the same across sources / did this week's crawl drift"
    without a single float. Consumers sum the rationals (or their e6
    floors) and compare against their chosen critical value; the exact
    pair keeps boundary decisions engine-independent.

    ABSENT cells (observed 0) are emitted too — a category that
    vanished from one source is precisely the drift signal, and
    dropping empty cells would understate χ². NULL categories are
    dropped. Overflow bound: (O·N)² must fit bigint — fine to ~3e9
    total rows; shard the table first beyond that.

    Scale shape: one (r, c) count aggregate + two marginal aggregates
    (all map-side combinable), a cross of the two broadcast-sized
    marginal tables to densify, and column algebra.
    """
    base = df.select(
        F.col(row_col).cast("string").alias("r"),
        F.col(col_col).cast("string").alias("c"),
    ).filter(F.col("r").isNotNull() & F.col("c").isNotNull())
    cells = base.groupBy("r", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("observed"))
    r_tot = base.groupBy("r").agg(
        F.count(F.lit(1)).cast("bigint").alias("r_tot"))
    c_tot = base.groupBy("c").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_tot"))
    n_tot = base.agg(F.count(F.lit(1)).cast("bigint").alias("n_tot"))
    # densify with two explicit broadcast nested-loop attaches: the
    # category product and the 1-row total. Both right sides are
    # marginal tables — broadcast-sized by DEFINITION (categories, not
    # rows) — so these are the sanctioned bounded-attach BNLJs, with
    # the plan-audit budget raised to 2 for this operator's queries
    # (tests/test_plan_scalability.py). A constant-key hash join does
    # not dodge this honestly: Catalyst constant-folds it back to BNLJ.
    dense = (
        r_tot.crossJoin(F.broadcast(c_tot))
        .join(cells, ["r", "c"], "left")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "r", "c",
            F.coalesce("observed", F.lit(0)).cast("bigint").alias("observed"),
            "r_tot", "c_tot", "n_tot",
        )
    )
    diff = (F.col("observed") * F.col("n_tot")
            - F.col("r_tot") * F.col("c_tot"))
    return dense.select(
        "r", "c", "observed", "r_tot", "c_tot", "n_tot",
        (diff * diff).cast("bigint").alias("dev_num"),
        (F.col("n_tot") * F.col("r_tot") * F.col("c_tot"))
        .cast("bigint").alias("dev_den"),
    )
