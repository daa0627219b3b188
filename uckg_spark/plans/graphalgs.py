"""Iterative graph algorithms over the (subj, pred, obj) edge table —
the analytics layer of the knowledge-graph query surface.

The reference's Neo4j deployment exposes its KG to graph-algorithm
libraries (centrality / ranking over the loaded graph is the canonical
follow-on to the n10s load in /root/reference/process/
graph_updater.py:13-45). The Spark-native equivalent is an iterative
DataFrame job over the edges table the pipeline materializes.

``pagerank_fixed`` is deliberately INTEGER fixed-point: every operation
is bigint arithmetic (integer division, integer sums), so the result is
bit-exact across engines and run-to-run — a float PageRank's sum order
varies with partitioning, which would make the DuckDB oracle row and
any resume-idempotency check flaky. Ranks are in micro-units (1e6 = the
uniform start mass).

Execution shape at 100 TB:
- edges dedup once (set semantics, map-side combinable), then each
  iteration is exactly two shuffles: the contribution join keyed on the
  SOURCE node and the contribution aggregation keyed on the DESTINATION
  node — the textbook PageRank shuffle pair. Both keys are the data's
  own keys; AQE splits hot-entity skew (popular CVEs are exactly the
  high-in-degree nodes that skew the agg side).
- out-degrees are computed once and reused every iteration.
- rank lineage is truncated every few iterations (``session.reuse``)
  so Catalyst does not re-optimize an ever-deepening plan —
  same discipline as operators/canonicalize.py::connected_components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import reuse

# fixed-point scale: initial rank mass per node
_SCALE = 1_000_000
# damping 0.85 expressed exactly in integer math:
#   r' = _TELEPORT + (85 * incoming) div 100
_TELEPORT = 150_000


def pagerank_fixed(
    edges: DataFrame,
    iterations: int = 3,
    subj: str = "subj",
    obj: str = "obj",
    checkpoint_every: int = 4,
    seeds: list | None = None,
) -> DataFrame:
    """Integer fixed-point PageRank over ``edges``; returns (node, rank).

    Semantics (exact, engine-portable):
      E          = DISTINCT (subj, obj)          -- multigraph collapses
      nodes      = subjects ∪ objects (DISTINCT)
      outdeg(m)  = |{(m, *) ∈ E}|
      r0(n)      = 1_000_000
      r_{k+1}(n) = 150_000 + (85 * Σ_{(m,n)∈E} (r_k(m) div outdeg(m))) div 100

    Dangling nodes (no out-edges) keep their teleport mass only — their
    rank is not redistributed (the common "lost mass" variant; exactness
    beats mass conservation for an oracle-checked operator, and the
    ranking ORDER it induces is the standard one).

    With ``seeds`` this becomes PERSONALIZED PageRank (Haveliwala 2002):
    initial mass and the teleport term go only to the seed nodes
    (r0 = 1e6·[n ∈ S]; teleport(n) = 150_000·[n ∈ S]) — the rank is then
    relatedness TO THE SEED SET, the "entities most associated with this
    CVE/vendor" query a KG serves. Seeds are a driver-side list because
    they are a query parameter (a handful of entities), compiled to an
    isin predicate — never a join.

    ``iterations`` is a fixed count, not a convergence test: the oracle
    twin unrolls the same number of steps, and at web scale a bounded
    iteration budget is how production PageRank jobs run anyway.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    if seeds is not None and not seeds:
        raise ValueError("seeds must be None or non-empty")
    e = edges.select(F.col(subj).alias("src"), F.col(obj).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("outdeg")
    )
    # the out-degree rides ON the edge row, joined ONCE before the loop:
    # the round-5 shape re-joined ranks⋈deg every iteration (an extra
    # exchange/broadcast stage per step for a value that never changes)
    e2 = e.join(deg, e.src == deg.node).select(
        F.col("src").alias("node"), "dst", "outdeg")
    if iterations > 0:
        # e2 and nodes feed every iteration (A/B at sf0.1, 3 iters, local
        # mode: persist 3.6-10.0 s, bare 3.6-4.1 s — ReuseExchange
        # already shares the distinct — non-eager checkpoint 2.9-3.3 s)
        e2 = reuse(e2)
        nodes = reuse(nodes)

    seed_mask = (
        F.col("node").isin(list(seeds)).cast("bigint")
        if seeds is not None
        else F.lit(1).cast("bigint")
    )
    ranks = nodes.withColumn(
        "rank", (F.lit(_SCALE) * seed_mask).cast("bigint"))
    # per-node zero contribution rows, unioned under the incoming-mass
    # aggregation: sum(contribs ∪ {0 per node}) ≡ coalesce(sum, 0) over
    # all nodes, so the old nodes⋈incoming LEFT join disappears — each
    # iteration is ONE join (rank fetch, keyed on the source node) plus
    # ONE map-side-combined aggregation (keyed on the destination), the
    # textbook minimum shuffle pair (guide §2.4)
    zeros = nodes.select("node", F.lit(0).cast("bigint").alias("s"))
    for k in range(iterations):
        contribs = (
            e2.join(ranks.withColumnRenamed("node", "_rn"),
                    F.col("node") == F.col("_rn"))
            .select(F.col("dst").alias("node"),
                    F.expr("rank div outdeg").alias("s"))
        )
        ranks = (
            contribs.unionByName(zeros)
            .groupBy("node")
            .agg(F.sum("s").cast("bigint").alias("s"))
            .select(
                "node",
                (F.lit(_TELEPORT) * seed_mask
                 + F.expr("(85 * s) div 100")).cast("bigint").alias("rank"),
            )
        )
        # truncate lineage periodically: Catalyst re-optimizes the whole
        # nested plan stack every iteration otherwise (measured on the CC
        # loop: per-iteration wall tripled by iter 4 without truncation)
        if (k + 1) % checkpoint_every == 0 and k + 1 < iterations:
            ranks = reuse(ranks)

    return ranks


def bfs_hops(
    edges: DataFrame,
    seeds: list[str],
    max_hops: int = 3,
    subj: str = "subj",
    obj: str = "obj",
    reverse: bool = False,
) -> DataFrame:
    """Bounded breadth-first reachability: ``(node, hops)`` for every
    node within ``max_hops`` of the seed set, ``hops`` = the MINIMUM hop
    distance (seeds themselves at 0). ``reverse=True`` follows edges
    backwards — "who reaches the seeds", the natural direction for a KG
    whose high-in-degree entities (nations, popular CVEs) are the query
    anchors.

    The level-synchronous frontier form: each hop is one join keyed on
    the frontier node plus one anti-join against the settled set —
    min-distance is structural (a node joins the settled set at the
    FIRST level that reaches it), so the result is exact and
    engine-portable; the DuckDB twin unrolls the same levels.

    Scale shape: the whole loop is LAZY — no driver action per level, so
    Spark plans one job with ``max_hops`` join+anti-join stages; both
    shuffles are keyed on the node id, AQE splits hot-frontier skew. For
    deep traversals (max_hops ≳ 6) persist each level and break on an
    empty frontier instead; at 3-4 hops the single lazy plan is cheaper
    than per-level actions (the connected-components lesson,
    operators/canonicalize.py).
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    spark = edges.sparkSession
    src, dst = (obj, subj) if reverse else (subj, obj)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    # e and each level feed several later union branches, but NO persist
    # here: ReuseExchange already dedupes the identical subplans inside
    # the one lazy job, and an A/B at sf0.1 measured caching ~2x SLOWER
    # (4.1 s bare vs 6.6-8.6 s with e/level persists) — block
    # materialization costs more than the recompute it saves at 3 hops
    dist = spark.createDataFrame(
        [(s,) for s in seeds], "node string"
    ).distinct().withColumn("hops", F.lit(0).cast("bigint"))
    frontier = dist.select("node")
    for k in range(1, max_hops + 1):
        nxt = (
            e.join(frontier, e.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = nxt.join(dist, "node", "left_anti").withColumn(
            "hops", F.lit(k).cast("bigint")
        )
        dist = dist.unionByName(new)
        frontier = new.select("node")
    return dist


def triangle_counts(
    edges: DataFrame, subj: str = "subj", obj: str = "obj"
) -> DataFrame:
    """Per-node triangle participation over the UNDIRECTED simple graph
    induced by ``edges`` — ``(node, n_triangles)``, each triangle counted
    once per corner. Triangle density is the standard cohesion profile on
    a fresh KG (entities whose neighborhoods interlock vs pure hubs).

    The DEGREE-ORIENTED wedge-check algorithm (Chiba–Nishizeki / the
    "forward" method): orient every undirected edge from its
    lower-(degree, id) endpoint to the higher, enumerate wedges only
    among each node's OUT-neighbors, and close them with one join on the
    oriented ``(v1, v2)`` edge. Each triangle materializes exactly once,
    at its lowest-ranked corner. The ordering is the deterministic total
    order ``(degree, node)``, so the DuckDB twin is the same SQL.

    Scale shape: this is the orientation that makes triangle counting
    survive hubs — a node's wedge fan-out is C(out-degree, 2) and
    out-degree is bounded by O(√m) under the orientation, so a
    12k-degree hub (a nation, a popular CVE) contributes ZERO wedges
    instead of 70M; the naive id-ordered join explodes on exactly those
    nodes. Three node-keyed shuffles (degree agg, wedge self-join,
    closing join); AQE splits whatever moderate skew remains.
    """
    und = (
        edges.select(
            F.least(F.col(subj), F.col(obj)).alias("a"),
            F.greatest(F.col(subj), F.col(obj)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    ranked = (
        und.join(deg.withColumnRenamed("node", "a")
                 .withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("node", "b")
              .withColumnRenamed("deg", "db"), "b")
    )
    low_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    arcs = ranked.select(
        F.when(low_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(low_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(low_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    # arcs feeds the wedge source and the closing join, but ReuseExchange
    # dedupes the identical subplan inside the one job — an A/B at sf0.1
    # measured .persist() here consistently slower (3.4-7.7 s vs
    # 3.1-4.5 s bare); same finding as bfs_hops above.
    # Wedges by per-node combinations of the (dv, v)-sorted out-
    # neighbor list (two chained codegen generators — the
    # link_prediction shape) instead of the u-keyed self-join: one
    # groupBy(u) shuffle replaces shuffling/probing both join sides,
    # and the sort on struct(dv, v) IS the wedge order predicate
    # ((dv, v) lexicographic; v is unique per u, so the order is
    # total) — the emitted (x, y, z) multiset is identical (verified
    # row-for-row at sf0.1: 165k corner rows). collect_list is bounded
    # by the oriented out-degree, O(√m) under the degree orientation —
    # the same bound the wedge fan-out already relied on. A/B at
    # sf0.1: cold 9.2 → 5.0 s, warm 2.9-4.0 → 3.0-3.2 s.
    grp = arcs.groupBy("u").agg(
        F.array_sort(F.collect_list(F.struct("dv", "v"))).alias("ws"))
    wedges = (
        grp.select("u", "ws", F.posexplode("ws").alias("i", "w1"))
        .select(
            "u", F.col("w1.v").alias("y"),
            F.explode(F.slice("ws", F.col("i") + 2, F.size("ws")))
            .alias("w2"),
        )
        .select(F.col("u").alias("x"), "y", F.col("w2.v").alias("z"))
    )
    close = arcs.select(F.col("u").alias("y"), F.col("v").alias("z"))
    tris = wedges.join(close, ["y", "z"]).select("x", "y", "z")
    return (
        tris.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )


def kcore(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 3,
    subj: str = "subj",
    obj: str = "obj",
) -> DataFrame:
    """Bounded k-core peeling over the undirected simple graph:
    ``rounds`` synchronous peels of every node whose current degree is
    below ``k``, returning ``(node, core_deg)`` — the surviving nodes
    with their degree in the surviving subgraph. The k-core separates a
    KG's cohesive backbone from pendant entities (a CVE mentioned once
    vs one woven into the product/technique neighborhood).

    BOUNDED rounds, not run-to-fixpoint: like ``pagerank_fixed``'s fixed
    iteration budget, a fixed peel count is engine-portable (the DuckDB
    twin unrolls the same rounds) and is how production jobs bound
    worst-case chains anyway; peeling converges in 1-2 rounds on
    real KG shapes (each round removes a full frontier of low-degree
    nodes synchronously).

    Scale shape: each round is one degree aggregation plus two
    semi-joins, all keyed on node ids. Unlike ``bfs_hops`` (where the
    lazy loop measured FASTER than materializing), kcore's per-round
    frame feeds BOTH the next degree agg and both semi-join sides, and
    the recompute chain deepens multiplicatively — an A/B at sf0.1
    measured the fully-lazy form ~1.5-3.7x slower than truncating edge
    lineage each round, so ``e`` goes through ``session.reuse`` between
    rounds. High-degree hubs are never hot: the degree agg combines
    map-side and the semi-join's build side shrinks every round.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    e = (
        edges.select(
            F.least(F.col(subj), F.col(obj)).alias("a"),
            F.greatest(F.col(subj), F.col(obj)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )

    def degrees(ed: DataFrame) -> DataFrame:
        return (
            ed.select(F.col("a").alias("node"))
            .unionByName(ed.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("core_deg"))
        )

    for r in range(rounds):
        # peel by ANTI-joining the LOW-degree frontier instead of
        # semi-joining the survivors: the peeled set is the small side
        # (pendant nodes), so both probes broadcast a frontier-sized
        # table rather than shuffling a survivors-sized one — identical
        # edge set (a∉bad ∧ b∉bad ⇔ a∈keep ∧ b∈keep; every endpoint has
        # a degree row by construction), guide §2.3 shuffle-fewer-bytes.
        bad = degrees(e).filter(F.col("core_deg") < k).select("node")
        e = e.join(
            bad.withColumnRenamed("node", "a"), "a", "anti"
        ).join(bad.withColumnRenamed("node", "b"), "b", "anti")
        # truncate between rounds only: each intermediate e feeds BOTH
        # the next degree agg and the anti-join probe (recompute doubles
        # per round without truncation), but the FINAL e feeds exactly
        # one consumer — checkpointing it just adds a serial
        # materialization job (A/B at sf0.1: all-rounds 2.22 s,
        # no-last 1.77 s, none 3.72 s warm)
        if r + 1 < rounds:
            e = reuse(e)
    return degrees(e)


def label_propagation(
    edges: DataFrame,
    rounds: int = 2,
    subj: str = "subj",
    obj: str = "obj",
) -> DataFrame:
    """Bounded synchronous label propagation (Raghavan et al. 2007) over
    the undirected simple graph: labels start as the node's own id; each
    round every node adopts the most frequent label among its NEIGHBORS,
    ties broken by smallest label. Returns ``(node, label)`` — nodes
    sharing a label after ``rounds`` form (proto-)communities. Where
    ``connected_components`` answers "reachable at all?", LPA answers
    "densely attached?" — the community structure inside one giant KG
    component (which is exactly what sf-scale doc/entity graphs are).

    DETERMINISTIC by construction: synchronous rounds + total-order tie
    break, so the result is engine-portable (async/random LPA is not).

    Scale shape per round: one join keyed on the edge endpoint to fetch
    neighbor labels, one (node,label) count agg, one per-node arg-min —
    all map-side-combinable hash aggregations on data keys; hot nodes
    are AQE skew-split. The vote pick uses min(struct(-cnt, label)):
    one aggregate, no window sort. The undirected edge frame and every
    second round's labels go through ``session.reuse``: und feeds every
    round twice and labels chain multiplicatively — A/B at sf0.1:
    15.0→6.7 s cold, 5.1→4.4 s warm (same kcore finding).
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    e = (
        edges.select(F.col(subj).alias("a"), F.col(obj).alias("b"))
        .where(F.col(subj) != F.col(obj))
        .distinct()
    )
    und = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    if rounds > 0:
        und = reuse(und)
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for r in range(rounds):
        if r == 0:
            # round 1 against IDENTITY labels needs no join and no vote
            # count: every neighbor carries a distinct label (und is a
            # distinct edge set), so each (node, label) count is exactly
            # 1 and min(struct(-1, label)) degenerates to min(neighbor)
            # — one map-side-combined aggregation replaces the
            # join + two-level vote (guide §2.4); the result is
            # bit-identical to the general round below
            labels = und.groupBy(F.col("a").alias("node")).agg(
                F.min("b").alias("label"))
        else:
            votes = (
                und.join(
                    labels.withColumnsRenamed({"node": "b", "label": "nl"}),
                    "b",
                )
                .groupBy(F.col("a").alias("node"), F.col("nl").alias("label"))
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            labels = (
                votes.groupBy("node")
                .agg(
                    F.min(
                        F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
                    ).alias("m")
                )
                .select("node", F.col("m.label").alias("label"))
            )
        # each round's labels feed exactly ONE consumer (the next round's
        # vote join, or the caller), so truncating them buys no reuse —
        # it only bounds plan depth on DEEP loops. Periodic truncation
        # (every 2nd round, never the final one) keeps that bound; at
        # the bench's rounds=2 no labels checkpoint fires at all (A/B at
        # sf0.1 warm: every-round 2.77 s, und-only 2.18 s; cold 9.4 s
        # vs 3.1 s — the und checkpoint above is the one that pays).
        if (r + 1) % 2 == 0 and r + 1 < rounds:
            labels = reuse(labels)
    return labels


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Incremental KG maintenance: the edge delta between two graph
    snapshots — every row of ``new`` not in ``old`` tagged ``added``,
    every row of ``old`` not in ``new`` tagged ``removed`` (set
    semantics, like the A1-deduped triple tables the catalog stores).

    This is the delta an incremental sync applies instead of rebuilding
    (``plans/incremental.sync_kg`` computes the same two sides as
    left-anti joins against the edge head: ``added`` rows append,
    ``removed`` rows retract). The reference's n10s MERGE semantics make
    re-inserts no-ops; the diff makes them free instead.

    Scale shape: each direction is one EXCEPT — a shuffle keyed on the
    full row, which IS the join key, with map-side partial dedup. On the
    pred-partitioned catalog layout, restricting both sides to the same
    predicate partition prunes the scan before the shuffle; the two
    directions reuse the same scans (one per side).
    """
    if old.columns != new.columns:
        raise ValueError(
            f"schema mismatch: {old.columns} vs {new.columns}")
    added = new.subtract(old).withColumn("change", F.lit("added"))
    removed = old.subtract(new).withColumn("change", F.lit("removed"))
    return added.unionByName(removed)


def link_prediction(
    edges: DataFrame,
    max_hub_degree: int = 64,
    k: int = 100,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Common-neighbor link prediction over a bipartite (node, hub) edge
    set: score node pairs by how many hubs they share — the "customers
    who co-purchase parts" / "entities co-mentioned on pages" candidate
    generator a KG-construction pipeline runs to PROPOSE new edges (the
    reference graph only materializes edges it extracted; proposing
    missing ones is the canonical downstream analytic,
    /root/reference/process/graph_updater.py loads into Neo4j
    where GDS link prediction is the standard follow-on).

    Returns the top-``k`` pairs (a, b) with a < b, scored three ways —
    ALL integer-exact so the cross-engine twin is hash-identical:

      cn       = |H(a) ∩ H(b)|                 (common hub count)
      jacc_num / jacc_den = cn / (deg(a) + deg(b) − cn)   (Jaccard as an
                 exact rational — no float division anywhere)
      ra_e6    = Σ_{h ∈ H(a)∩H(b)} (1_000_000 div deg(h))  (resource
                 allocation index, Zhou et al. 2009, in fixed micro-
                 units; integer div keeps the sum order-independent,
                 unlike a float Σ1/deg whose value depends on partition
                 sum order)

    Ranking is (cn desc, ra_e6 desc, a asc, b asc) — fully deterministic.

    ``max_hub_degree`` drops hubs with more than that many neighbors
    BEFORE pair generation (degrees are computed on the capped graph,
    so every score refers to the same graph the pairs came from). This
    is the super-node cap every production link-prediction job applies:
    per-hub pair fan-out is deg², so one celebrity hub at 10^6 degree
    would emit 10^12 pairs — and sharing a near-universal hub carries
    no signal anyway (its RA weight → 0). The cap makes the worst-case
    intermediate |E_capped| · max_hub_degree rows, shuffled on the hub
    key (AQE splits residual skew); the pair aggregation shuffles on
    (a, b), which tracks true co-occurrence structure.

    Scale shape: two shuffles (hub self-join, pair agg) + two broadcast-
    or-shuffle degree joins + a TakeOrdered — no driver loops, no
    cartesian (the self-join is keyed on the hub).
    """
    if max_hub_degree < 2:
        raise ValueError("max_hub_degree must be >= 2 to form any pair")
    e = edges.select(F.col(src).alias("node"), F.col(dst).alias("hub")).distinct()
    hub_deg = e.groupBy("hub").agg(
        F.count(F.lit(1)).cast("bigint").alias("hdeg"))
    capped = (
        e.join(hub_deg.filter(F.col("hdeg") <= max_hub_degree), "hub")
        .persist()  # reused: degree pass + both sides of the pair join
    )
    node_deg = capped.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg"))
    # pair generation by per-hub combinations instead of the hub
    # self-join (guide §2.4): ONE groupBy(hub) shuffle + an explode of
    # the sorted member list's C(g, 2) combinations replaces shuffling
    # both join sides and probing — the emitted (a, b, hdeg) multiset is
    # identical (members sorted ascending ⇒ a < b), and collect_list is
    # bounded by ``max_hub_degree``, so no group can blow up. The
    # combinations come from TWO chained generators (posexplode of the
    # member list, then explode of the strictly-later slice) rather than
    # one flatten(transform(transform(...))) expression: higher-order
    # functions are interpreted (no whole-stage codegen) and allocate
    # the full C(g, 2) struct array per hub row, while both generators
    # and slice() are codegen-native — measured 1.43 → 1.17 s warm
    # (3.04 → 1.60 s cold) on the 8.0M-pair bench graph at sf0.1.
    grp = capped.groupBy("hub").agg(
        F.sort_array(F.collect_list("node")).alias("ns"),
        F.first("hdeg").alias("hdeg"),
    )
    combos = grp.select(
        "hdeg", "ns", F.posexplode("ns").alias("i", "a")
    ).select(
        "hdeg", "a",
        F.explode(F.slice("ns", F.col("i") + 2, F.size("ns"))).alias("b"),
    )
    pairs = (
        combos.groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.sum(F.expr("1000000 div hdeg")).cast("bigint").alias("ra_e6"),
        )
    )
    da = node_deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = node_deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    return (
        pairs.join(da, "a").join(db, "b")
        .select(
            "a", "b", "cn",
            F.col("cn").alias("jacc_num"),
            (F.col("deg_a") + F.col("deg_b") - F.col("cn"))
            .cast("bigint").alias("jacc_den"),
            "ra_e6",
        )
        .orderBy(
            F.col("cn").desc(), F.col("ra_e6").desc(),
            F.col("a"), F.col("b"))
        .limit(k)
    )


def kge_negative_samples(
    edges: DataFrame,
    k: int = 2,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    n_buckets: int = 64,
) -> DataFrame:
    """FILTERED negative sampling for KG-embedding training (TransE
    protocol, Bordes et al. NeurIPS'13): for every positive (s, p, o)
    and sample slot i < k, corrupt the object with a pseudo-random node
    — ``idx_i = md5(s‖p‖o‖':'‖i) mod n_nodes`` through a dense node
    index — then drop corruptions that collide with ANY real (s, p, ·)
    edge (the "filtered" setting; unfiltered scoring penalizes models
    for ranking true triples highly). Returns
    ``(subj, pred, neg_obj, sample_i)``. Deterministic end to end:
    the same edge set yields the same negatives on any cluster, so
    training runs are reproducible and the oracle twin is exact.

    The dense node index needs NO global sort (a row_number over all
    nodes is one task holding every node id at 10^9+ nodes): nodes
    hash into ``n_buckets`` md5-buckets, get a within-bucket
    row_number, and bucket offsets come from a prefix sum over the
    n_buckets-row count table — a deterministic bijection
    node ↔ [0, n) built from one small window. n_nodes attaches via
    the sanctioned 1-row broadcast scalar attach.

    Scale shape: per-bucket window sort (buckets are uniform md5
    shards — no hot key), one equi-join negatives→index on idx (both
    sides shuffle on a uniform key), one anti-join against the real
    edges on (s, p, o) — the same key the edge table is already
    organized by. Corrupting OBJECTS only is deliberate: subject
    corruption is the same operator with the roles swapped.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = edges.select(
        F.col(subj).alias("s"), F.col(pred).alias("p"), F.col(obj).alias("o")
    ).distinct()
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("o").alias("node")))
        .distinct()
    )
    b = F.pmod(
        F.conv(F.substring(F.md5(F.col("node")), 1, 8), 16, 10).cast("bigint"),
        F.lit(n_buckets),
    )
    from pyspark.sql import Window

    bucketed = nodes.withColumn("b", b).withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("b").orderBy("node"))
        .cast("bigint") - 1,
    )
    counts = bucketed.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    offsets = counts.select(
        "b",
        (F.sum("cnt").over(
            Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
        ) - F.col("cnt")).cast("bigint").alias("off"),
    )
    indexed = bucketed.join(F.broadcast(offsets), "b").select(
        "node", (F.col("off") + F.col("rn")).alias("idx"))
    total = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    cand = (
        e.crossJoin(F.broadcast(total))
        .select(
            "s", "p", "o",
            F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("sample_i"),
            "n_nodes",
        )
        .select(
            "s", "p", "o", "sample_i",
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("\x01", "s", "p", "o",
                                          F.col("sample_i").cast("string"))),
                        1, 15),
                    16, 10,
                ).cast("bigint"),
                F.col("n_nodes"),
            ).alias("idx"),
        )
    )
    neg = cand.join(indexed, "idx").select(
        "s", "p", F.col("node").alias("neg_obj"), "sample_i", "o")
    # filtered protocol: the corruption must not be a real edge
    real = e.select("s", "p", F.col("o").alias("neg_obj"))
    return (
        neg.join(real, ["s", "p", "neg_obj"], "left_anti")
        .select(
            F.col("s").alias(subj), F.col("p").alias(pred),
            "neg_obj", F.col("sample_i").cast("bigint").alias("sample_i"),
        )
    )


def hits_fixed(
    edges: DataFrame,
    iterations: int = 2,
    subj: str = "subj",
    obj: str = "obj",
) -> DataFrame:
    """Integer fixed-point HITS (Kleinberg 1999): ``(node, auth, hub)``
    — authorities are pointed AT by good hubs, hubs point TO good
    authorities; on a KG this separates reference entities (nations,
    popular CVEs — high auth) from aggregator entities (orders,
    advisory pages — high hub), which PageRank's single score conflates.

    Exact, engine-portable semantics (the same no-float discipline as
    ``pagerank_fixed``):

      E       = DISTINCT (subj, obj)
      h0(n)   = 1_000_000
      a_k(n)  = Σ_{(m,n)∈E} h_{k-1}(m)     -- auth from CURRENT hubs
      h_k(n)  = Σ_{(n,m)∈E} a_k(m)         -- hub from the NEW auths

    No per-iteration normalization: float norms would break cross-
    engine exactness, and with a FIXED iteration budget the raw sums
    preserve the RANKING the normalized iteration produces (norms are
    positive scalars). Magnitudes grow like (d_in·d_out)^k·1e6 — with
    the default 2 iterations the bigint bound allows degree products up
    to ~10^6 per step, far beyond the KG's hubs; more iterations on a
    high-degree graph should rescale (div by max) between steps.
    Dangling directions contribute 0 (a node nothing points at has
    auth 0 — coalesced, never NULL).

    Scale shape: per iteration exactly two shuffle joins (edges×hub on
    src, edges×auth on dst) with map-side-combined sums — the PageRank
    shuffle pair, twice. The DuckDB twin unrolls the same steps.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(
        F.col(subj).alias("src"), F.col(obj).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if iterations > 1:
        # e and nodes feed every iteration, as in pagerank_fixed (A/B at
        # sf0.1, 2 iters, local mode: persist-both 4.4-14.0 s, bare
        # 3.1-5.1 s, non-eager checkpoint 3.1-3.8 s)
        e = reuse(e)
        nodes = reuse(nodes)
    hub = nodes.withColumn("h", F.lit(1_000_000).cast("bigint"))
    auth = None
    # totalize the LAST iteration's sums by unioning a zero row per node
    # under the aggregation (sum(x ∪ {0}) ≡ coalesce(sum, 0)): the two
    # final nodes⋈auth/nodes⋈hub LEFT joins then collapse to one inner
    # join of two total maps (guide §2.4 — the same fold-the-left-join-
    # into-the-agg move as pagerank_fixed)
    zeros_a = nodes.select("node", F.lit(0).cast("bigint").alias("a"))
    zeros_h = nodes.select("node", F.lit(0).cast("bigint").alias("h"))
    for i in range(iterations):
        last = i == iterations - 1
        ac = (
            e.join(hub.withColumnRenamed("node", "_hn"),
                   e.src == F.col("_hn"))
            .select(F.col("dst").alias("node"), F.col("h").alias("a"))
        )
        auth = (
            (ac.unionByName(zeros_a) if last else ac)
            .groupBy("node")
            .agg(F.sum("a").cast("bigint").alias("a"))
        )
        hc = (
            e.join(auth.withColumnRenamed("node", "_an"),
                   e.dst == F.col("_an"))
            .select(F.col("src").alias("node"), F.col("a").alias("h"))
        )
        hub = (
            (hc.unionByName(zeros_h) if last else hc)
            .groupBy("node")
            .agg(F.sum("h").cast("bigint").alias("h"))
        )
    return (
        auth.join(hub, "node")
        .select(
            "node",
            F.col("a").cast("bigint").alias("auth"),
            F.col("h").cast("bigint").alias("hub"),
        )
    )


def node_undirected(
    edges: DataFrame, subj: str = "subj", obj: str = "obj"
) -> DataFrame:
    """Symmetrized distinct adjacency — ``(node, nbr)`` with one row per
    undirected neighbor relation. Shared by the structural-ER family so
    callers that need the adjacency more than once (signatures + degrees
    + intersection scans in ``structural_pairs``) can compute it ONCE and
    persist, instead of re-running the distinct-union-distinct chain per
    consumer. Bounded by 2·|edges| rows — same order as the input, so a
    MEMORY_AND_DISK persist of it is spill-safe at cluster scale."""
    e = edges.select(
        F.col(subj).alias("src"), F.col(obj).alias("dst")).distinct()
    return (
        e.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
        .unionByName(
            e.select(F.col("dst").alias("node"), F.col("src").alias("nbr")))
        .distinct()
    )


def node_neighbor_minhash(
    edges: DataFrame,
    num_hashes: int = 4,
    subj: str = "subj",
    obj: str = "obj",
    und: DataFrame | None = None,
) -> DataFrame:
    """Structural node signatures: a MinHash of each node's UNDIRECTED
    neighbor set — ``(node, mh0..mh{k-1})``. Nodes playing the same
    structural role (two alias nodes for one real-world entity, split
    crawl identities of one host) share neighbors even when their
    labels disagree, so their signatures collide — entity resolution by
    GRAPH SHAPE, complementing the label-based `canonical_map` and the
    content-based dedup family. Hash family is exactly
    ``operators.dedup.minhash_signatures``'s (md5 ``'{j div 4}:'``
    prefix, digest slice ``j mod 4``), so the same banding/joining
    machinery applies downstream.

    Scale shape: symmetrize (one union), then ONE groupBy on node —
    each min() combines map-side; signatures cost a single shuffle
    keyed by the node. Pass a precomputed (persisted) ``und`` adjacency
    from :func:`node_undirected` to share it with other consumers.
    """
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    if und is None:
        und = node_undirected(edges, subj, obj)
    # one md5 per (node, nbr) row per FAMILY, materialized as its own
    # projection column before the min aggs: the 4 per-slice min
    # expressions then share the digest instead of each re-hashing
    # (Catalyst does not reliably CSE across aggregate expressions)
    n_fams = (num_hashes + 3) // 4
    digs = und.select(
        "node",
        *[F.md5(F.concat(F.lit(f"{p}:"), F.col("nbr"))).alias(f"_d{p}")
          for p in range(n_fams)],
    )
    return digs.groupBy("node").agg(*[
        F.min(
            F.conv(
                F.substring(F.col(f"_d{j // 4}"), 8 * (j % 4) + 1, 8),
                16, 10,
            ).cast("bigint")
        ).alias(f"mh{j}")
        for j in range(num_hashes)
    ])


def structural_groups(
    edges: DataFrame,
    num_hashes: int = 4,
    min_size: int = 2,
    subj: str = "subj",
    obj: str = "obj",
) -> DataFrame:
    """Groups of nodes whose FULL neighbor-minhash signatures agree —
    high-probability same-neighborhood candidates: ``(mh0.., n_nodes,
    rep)`` with ``rep`` the minimum node id (the canonicalization
    convention). The structural-ER candidate generator; verify
    candidates with an exact neighbor-set compare before merging."""
    sig = node_neighbor_minhash(edges, num_hashes, subj, obj)
    return (
        sig.groupBy(*[f"mh{j}" for j in range(num_hashes)])
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("node").alias("rep"),
        )
        .filter(F.col("n_nodes") >= min_size)
    )


def structural_pairs(
    edges: DataFrame,
    num_hashes: int = 4,
    max_group_size: int = 8,
    subj: str = "subj",
    obj: str = "obj",
) -> DataFrame:
    """The VERIFY stage of structural entity resolution: candidate
    pairs from ``structural_groups`` scored by their TRUE neighbor-set
    overlap — ``(node_a, node_b, inter, uni)`` with Jaccard the exact
    ``inter/uni`` rational. This is the candidate→exact-verify
    composition the MinHash superset collision demands (a sketch
    collision is a hypothesis, the set intersection is the answer;
    false candidates surface as inter ≪ uni instead of silently
    merging).

    ``max_group_size`` skips structural groups larger than that: their
    pairwise fan-out is C(g, 2) (one nation's customers would be ~10⁵
    pairs), and a giant group is its own finding — read it from
    ``structural_groups`` directly; pairwise verification targets the
    small-cluster alias/duplicate case. The cap is the scale guard:
    candidate pairs are bounded by |groups|·C(cap, 2).

    Scale shape: signature groupBy, a within-group self-join on the
    full signature (bounded by the cap), then the intersection count
    as one (pair × neighbor) equi-join chain keyed on node then
    neighbor — per-pair cost tracks the nodes' degrees, never the
    graph. The undirected adjacency is computed ONCE and reused
    (the `_shared_sigs` idiom: identical plans across calls hit the
    same cache): it feeds four consumers (signatures, degrees, and both
    sides of the intersection scan), and without sharing each one
    re-runs the distinct-union-distinct chain — 3 redundant edge-table
    shuffles removed from the plan. At sf0.1/local[32] the wall is
    dominated by the verify joins, so the measured delta is inside host
    noise; the sharing is a cluster-scale argument (edge scans/shuffles
    scale with the corpus, the verify stage with |candidates|·degree).
    Bounded by 2·|edges| rows.
    """
    if max_group_size < 2:
        raise ValueError("max_group_size must be >= 2")
    keys = [f"mh{j}" for j in range(num_hashes)]
    und = node_undirected(edges, subj, obj)
    # und feeds four consumers (A/B at sf0.1, local mode: persist
    # 4.9-13.6 s, bare 3.4-4.7 s, non-eager checkpoint 3.5-4.0 s)
    und = reuse(und)
    sig = node_neighbor_minhash(edges, num_hashes, subj, obj, und=und)
    # candidate pairs by per-group combinations (guide §2.4): the
    # count prefilter stays (collect_list over an UNFILTERED group could
    # buffer a giant structural twin class — the count agg is the scale
    # guard), but the within-group SELF-JOIN of the round-5 shape is
    # replaced by collecting each small group's sorted member list and
    # exploding its C(g, 2) combinations — identical pair set (members
    # sorted ascending ⇒ node_a < node_b; nodes are unique per
    # signature row), bounded by ``max_group_size``.
    small = (
        sig.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_gn"))
        .filter((F.col("_gn") >= 2) & (F.col("_gn") <= max_group_size))
        .select(*keys)
    )
    cand = (
        sig.join(small, keys)
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list("node")).alias("ns"))
        # two chained codegen generators, not flatten(transform(...)) —
        # same C(g, 2) combination multiset, see link_prediction above
        .select("ns", F.posexplode("ns").alias("i", "node_a"))
        .select(
            "node_a",
            F.explode(F.slice("ns", F.col("i") + 2, F.size("ns")))
            .alias("node_b"),
        )
    )
    deg = und.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg"))
    ua = und.select(F.col("node").alias("node_a"), "nbr")
    ub = und.select(F.col("node").alias("node_b"), "nbr")
    inter = (
        cand.join(ua, "node_a").join(ub, ["node_b", "nbr"])
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("node").alias("node_b"), F.col("deg").alias("_db"))
    return (
        inter.join(da, "node_a").join(db, "node_b")
        .select(
            "node_a", "node_b", "inter",
            (F.col("_da") + F.col("_db") - F.col("inter"))
            .cast("bigint").alias("uni"),
        )
    )
