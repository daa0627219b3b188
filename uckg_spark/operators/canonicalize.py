"""Entity canonicalization: salted key-normalization + connected-components
alias merging (SURVEY.md §2.5 A2, §7 M4).

The reference canonicalizes by Neo4j's unique-URI MERGE
(/root/reference/process/graph_updater.py:30-45) — one node per URI. At
10^12 docs the graft also merges *alias clusters*: surface forms and
canonical ids form a bipartite graph whose connected components are the
true entities.

Algorithm: two-phase contraction. Each round runs an exact union-find over
every partition's LOCAL edge set (one Arrow mapInPandas pass — the same
sanctioned kernel family as operators/mentions.py), emitting
(node, local-min-rep) pairs; a node that straddles partitions comes back
with several reps, and the residual star edges among those reps form the
next round's (dramatically smaller) graph. This is the contraction family
of Kiveris et al., SoCC'14 — local union-find collapses ALL intra-partition
structure in one pass, so rounds track the partition count, not the graph
diameter (plain min-label propagation, the round-3 shape, paid one Spark
job per diameter step: 5+ jobs at bench scale where per-job latency
dominates; this shape pays 1 job per round and converges in 1 round
whenever the edge set fits one partition's budget).

Determinism: union-by-min keeps every union-find root the lexicographic
MIN of its set, so the final component id = min node id of the component —
independent of partitioning and round count (min of mins).

Scale: edges_per_partition bounds the per-task union-find memory (a dict
over the partition's node set); the residual graph shrinks by roughly the
average partition's contraction factor each round, and every shuffle
(repartition / groupBy) is sized to the CURRENT edge count, never the
session default.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import reuse

_MAP_SCHEMA = "node string, rep string"


def _local_union_find(batches: Iterator) -> Iterator:
    """Exact union-find over one partition's edges (u, v); emits every node
    of the partition with its local component's MIN node id. Union-by-min:
    roots are always their set's minimum, so attaching the larger root
    under the smaller keeps the invariant without a separate pass."""
    import pandas as pd

    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for pdf in batches:
        for a, b in zip(pdf["u"], pdf["v"]):
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
    nodes = list(parent)
    # chunked emit keeps Arrow batches bounded on dense partitions
    for i in range(0, len(nodes), 1_000_000):
        chunk = nodes[i:i + 1_000_000]
        yield pd.DataFrame(
            {"node": chunk, "rep": [find(x) for x in chunk]}
        )


def connected_components(
    edges: DataFrame, max_iter: int = 25,
    edges_per_partition: int = 2_000_000,
) -> DataFrame:
    """edges(src: string, dst: string) → (node: string, component: string).

    component = min node id in the component (string/binary order — UTF-8
    byte order equals code-point order, so the Python min inside the kernel
    agrees with Spark's and the SQL oracle's)."""
    spark = edges.sparkSession

    # canonical undirected form: (u, v) with u < v, self-loops dropped,
    # deduped — union-find needs each link once, not both directions
    E = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # the count below materializes E either way, but a checkpointed
    # (uncached) E needs no unpersist bookkeeping, so the single-partition
    # fast path can return its mapping LAZILY (no final persist+count job
    # just to release E — one serial Spark job cut from every small-graph
    # CC consumer)
    E = reuse(E)
    n_cur = E.count()

    mapping: DataFrame | None = None  # node → current rep, all orig nodes
    cur = E
    persisted = [E] if E.is_cached else []
    for _ in range(max_iter):
        if n_cur == 0:
            break
        parts = max(1, n_cur // edges_per_partition)
        local = cur.repartition(parts, "u").mapInPandas(
            _local_union_find, _MAP_SCHEMA
        )
        if parts == 1:
            # single partition ⇒ the local union-find saw EVERY edge, so
            # its reps are the global answer: the kernel emits each node
            # exactly once per partition, every node's _reps would have
            # one element, nxt would be provably empty and the loop
            # would break — skip the per-node aggregation AND the
            # residual-graph distinct/count (exact same labels)
            flat = local.select("node", "rep")
            if mapping is None:
                mapping = flat
            else:
                remap = flat.select(
                    F.col("node").alias("rep"), F.col("rep").alias("_new")
                )
                mapping = mapping.join(remap, "rep", "left").select(
                    "node", F.coalesce("_new", "rep").alias("rep")
                )
            break
        grp = (
            local.repartition(parts, "node")
            .groupBy("node")
            .agg(
                F.min("rep").alias("rep"),
                F.collect_set("rep").alias("_reps"),
            )
            .persist()
        )
        persisted.append(grp)
        # residual graph: a node seen by k>1 partitions links its k reps —
        # star via the min rep preserves connectivity exactly
        nxt = (
            grp.filter(F.size("_reps") > 1)
            .select(F.col("rep").alias("u"), F.explode("_reps").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .persist()
        )
        persisted.append(nxt)
        n_cur = nxt.count()  # the round's ONLY action (fills grp's cache)

        flat = grp.select("node", "rep")
        if mapping is None:
            mapping = flat
        else:
            # only nodes whose current rep was itself re-mapped change
            remap = flat.select(
                F.col("node").alias("rep"), F.col("rep").alias("_new")
            )
            mapping = mapping.join(remap, "rep", "left").select(
                "node", F.coalesce("_new", "rep").alias("rep")
            )
        cur = nxt

    if mapping is None:  # no edges at all
        return spark.createDataFrame([], "node string, component string")

    labels = mapping.select("node", F.col("rep").alias("component"))
    if persisted:
        # materialize before releasing the caches the lineage reads
        labels = labels.persist()
        labels.count()
        for df in persisted:
            df.unpersist()
    return labels


def canonical_map(alias_edges: DataFrame) -> DataFrame:
    """alias_edges(surface_key, canonical_id) → (member, canonical) where
    canonical = deterministic representative of the alias cluster: the
    lexicographic MIN among the cluster's real canonical ids (surface keys
    are 'surface:'-prefixed and only chosen if a component somehow contains
    no canonical id)."""
    edges = alias_edges.select(
        F.concat(F.lit("surface:"), F.col("surface_key")).alias("src"),
        F.col("canonical_id").alias("dst"),
    )
    cc = connected_components(edges)
    rep = cc.groupBy("component").agg(
        F.coalesce(
            F.min(F.when(~F.col("node").startswith("surface:"), F.col("node"))),
            F.min("node"),
        ).alias("canonical")
    )
    return (
        cc.join(rep, "component")
        .select(F.col("node").alias("member"), "canonical")
    )
