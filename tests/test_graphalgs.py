"""pagerank_fixed — cross-checked against a pure-Python reference of the
same integer recurrence, plus semantic edge cases."""

import random

from pyspark.sql import functions as F

from uckg_spark.plans.graphalgs import pagerank_fixed


def pagerank_py(edges: list[tuple[str, str]], iterations: int) -> dict[str, int]:
    """The exact integer recurrence, driver-side."""
    e = sorted(set(edges))
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    outdeg: dict[str, int] = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {n: 1_000_000 for n in nodes}
    for _ in range(iterations):
        incoming = {n: 0 for n in nodes}
        for s, d in e:
            incoming[d] += rank[s] // outdeg[s]
        rank = {n: 150_000 + (85 * incoming[n]) // 100 for n in nodes}
    return rank


def _df(spark, edges):
    return spark.createDataFrame(
        [(s, "rel", d) for s, d in edges], ["subj", "pred", "obj"]
    )


class TestPagerankFixed:
    def test_random_graph_matches_reference(self, spark):
        rng = random.Random(42)
        nodes = [f"n{i}" for i in range(40)]
        edges = list({
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(160)
        })
        got = {
            r["node"]: r["rank"]
            for r in pagerank_fixed(_df(spark, edges), iterations=4).collect()
        }
        assert got == pagerank_py(edges, 4)

    def test_multigraph_collapses_to_set(self, spark):
        # duplicate (s, d) pairs across predicates count once
        df = spark.createDataFrame(
            [("a", "p1", "b"), ("a", "p2", "b"), ("b", "p1", "a")],
            ["subj", "pred", "obj"],
        )
        got = {r["node"]: r["rank"]
               for r in pagerank_fixed(df, iterations=3).collect()}
        assert got == pagerank_py([("a", "b"), ("b", "a")], 3)

    def test_dangling_node_keeps_teleport_only(self, spark):
        # c has no out-edges; nothing flows FROM it, but it still ranks
        edges = [("a", "b"), ("b", "c")]
        got = {r["node"]: r["rank"]
               for r in pagerank_fixed(_df(spark, edges), iterations=1).collect()}
        assert got == pagerank_py(edges, 1)
        # after one step: b and c each receive a's/b's full share
        assert got["a"] == 150_000
        assert got["b"] == 150_000 + (85 * 1_000_000) // 100

    def test_zero_iterations_is_uniform(self, spark):
        got = pagerank_fixed(_df(spark, [("a", "b")]), iterations=0)
        assert {tuple(r) for r in got.collect()} == {
            ("a", 1_000_000), ("b", 1_000_000)}

    def test_symmetric_nodes_rank_equal(self, spark):
        # a 4-cycle is vertex-transitive: every node must rank identically
        edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
        ranks = {r["rank"]
                 for r in pagerank_fixed(_df(spark, edges), iterations=5).collect()}
        assert len(ranks) == 1

    def test_hub_outranks_leaves(self, spark):
        # star pointing at h: h must outrank every leaf
        edges = [(f"l{i}", "h") for i in range(5)]
        got = {r["node"]: r["rank"]
               for r in pagerank_fixed(_df(spark, edges), iterations=3).collect()}
        assert all(got["h"] > got[f"l{i}"] for i in range(5))


class TestSnapshotDiff:
    def test_added_removed_and_unchanged(self, spark):
        from uckg_spark.plans.graphalgs import snapshot_diff

        old = _df(spark, [("a", "b"), ("b", "c"), ("c", "d")])
        new = _df(spark, [("a", "b"), ("c", "d"), ("d", "e")])
        got = {(r["subj"], r["obj"], r["change"])
               for r in snapshot_diff(old, new).collect()}
        assert got == {("d", "e", "added"), ("b", "c", "removed")}

    def test_set_semantics_ignores_duplicates(self, spark):
        from uckg_spark.plans.graphalgs import snapshot_diff

        old = _df(spark, [("a", "b")])
        new = spark.createDataFrame(
            [("a", "rel", "b"), ("a", "rel", "b"), ("x", "rel", "y")],
            ["subj", "pred", "obj"])
        got = {(r["subj"], r["obj"], r["change"])
               for r in snapshot_diff(old, new).collect()}
        assert got == {("x", "y", "added")}

    def test_schema_mismatch_raises(self, spark):
        import pytest

        from uckg_spark.plans.graphalgs import snapshot_diff

        old = _df(spark, [("a", "b")])
        with pytest.raises(ValueError, match="schema mismatch"):
            snapshot_diff(old, old.select("subj", "obj"))

    def test_catalog_time_travel_integration(self, spark, tmp_path):
        """Diffing two catalog snapshots recovers exactly the appended
        rows — the incremental-maintenance loop over real snapshot IO."""
        from uckg_spark.plans.graphalgs import snapshot_diff
        from uckg_spark.sources.catalog import GraphCatalog

        cat = GraphCatalog(str(tmp_path / "g"))
        base = _df(spark, [("a", "b"), ("b", "c")])
        s1 = cat.write_edges(base, mode="overwrite")
        s2 = cat.write_edges(_df(spark, [("c", "d")]), mode="append")
        old = cat.read_edges(spark, snapshot_id=s1)
        new = cat.read_edges(spark, snapshot_id=s2)
        got = {(r["subj"], r["obj"], r["change"])
               for r in snapshot_diff(old, new).collect()}
        assert got == {("c", "d", "added")}


def bfs_py(edges, seeds, max_hops, reverse=False):
    """Driver-side level-synchronous BFS reference."""
    e = sorted({(d, s) if reverse else (s, d) for s, d in edges})
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for k in range(1, max_hops + 1):
        nxt = {d for s, d in e if s in frontier} - set(dist)
        for n in nxt:
            dist[n] = k
        frontier = nxt
    return dist


class TestBfsHops:
    def test_random_graph_matches_reference(self, spark):
        from uckg_spark.plans.graphalgs import bfs_hops

        rng = random.Random(7)
        nodes = [f"n{i}" for i in range(30)]
        edges = list({(rng.choice(nodes), rng.choice(nodes))
                      for _ in range(90)})
        seeds = ["n0", "n1"]
        got = {r["node"]: r["hops"]
               for r in bfs_hops(_df(spark, edges), seeds,
                                 max_hops=4).collect()}
        assert got == bfs_py(edges, seeds, 4)

    def test_reverse_direction(self, spark):
        from uckg_spark.plans.graphalgs import bfs_hops

        edges = [("a", "b"), ("b", "c"), ("x", "c")]
        got = {r["node"]: r["hops"]
               for r in bfs_hops(_df(spark, edges), ["c"], max_hops=2,
                                 reverse=True).collect()}
        assert got == {"c": 0, "b": 1, "x": 1, "a": 2}

    def test_min_hop_wins_on_multiple_paths(self, spark):
        from uckg_spark.plans.graphalgs import bfs_hops

        # c is reachable at hop 1 (direct) and hop 2 (via b): min wins
        edges = [("s", "b"), ("s", "c"), ("b", "c")]
        got = {r["node"]: r["hops"]
               for r in bfs_hops(_df(spark, edges), ["s"],
                                 max_hops=3).collect()}
        assert got == {"s": 0, "b": 1, "c": 1}

    def test_hop_bound_truncates(self, spark):
        from uckg_spark.plans.graphalgs import bfs_hops

        edges = [("a", "b"), ("b", "c"), ("c", "d")]
        got = {r["node"]: r["hops"]
               for r in bfs_hops(_df(spark, edges), ["a"],
                                 max_hops=2).collect()}
        assert got == {"a": 0, "b": 1, "c": 2}

    def test_unseen_seed_ranks_zero_hops(self, spark):
        from uckg_spark.plans.graphalgs import bfs_hops

        got = {r["node"]: r["hops"]
               for r in bfs_hops(_df(spark, [("a", "b")]), ["zz"],
                                 max_hops=2).collect()}
        assert got == {"zz": 0}


def triangles_py(edges):
    """Driver-side reference: count sorted corner triples per node."""
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj: dict[str, set] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts: dict[str, int] = {}
    nodes = sorted(adj)
    for x in nodes:
        for y in sorted(adj[x]):
            if y <= x:
                continue
            for z in adj[x] & adj[y]:
                if z > y:
                    for n in (x, y, z):
                        counts[n] = counts.get(n, 0) + 1
    return counts


class TestTriangleCounts:
    def test_random_graph_matches_reference(self, spark):
        from uckg_spark.plans.graphalgs import triangle_counts

        rng = random.Random(11)
        nodes = [f"n{i:02d}" for i in range(20)]
        edges = list({(rng.choice(nodes), rng.choice(nodes))
                      for _ in range(80)})
        got = {r["node"]: r["n_triangles"]
               for r in triangle_counts(_df(spark, edges)).collect()}
        assert got == triangles_py(edges)

    def test_direction_and_duplicates_ignored(self, spark):
        from uckg_spark.plans.graphalgs import triangle_counts

        # one triangle however the edges are oriented or repeated
        df = spark.createDataFrame(
            [("a", "p1", "b"), ("b", "p2", "a"), ("b", "p1", "c"),
             ("a", "p1", "c"), ("c", "p2", "a")],
            ["subj", "pred", "obj"])
        got = {r["node"]: r["n_triangles"]
               for r in triangle_counts(df).collect()}
        assert got == {"a": 1, "b": 1, "c": 1}

    def test_self_loops_excluded(self, spark):
        from uckg_spark.plans.graphalgs import triangle_counts

        edges = [("a", "a"), ("a", "b"), ("b", "c"), ("a", "c")]
        got = {r["node"]: r["n_triangles"]
               for r in triangle_counts(_df(spark, edges)).collect()}
        assert got == {"a": 1, "b": 1, "c": 1}

    def test_square_has_no_triangles(self, spark):
        from uckg_spark.plans.graphalgs import triangle_counts

        edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
        assert triangle_counts(_df(spark, edges)).count() == 0


def kcore_py(edges, k, rounds):
    """Synchronous bounded peeling, driver-side reference."""
    e = {(min(a, b), max(a, b)) for a, b in edges if a != b}

    def deg(es):
        d: dict[str, int] = {}
        for a, b in es:
            d[a] = d.get(a, 0) + 1
            d[b] = d.get(b, 0) + 1
        return d

    for _ in range(rounds):
        keep = {n for n, d in deg(e).items() if d >= k}
        e = {(a, b) for a, b in e if a in keep and b in keep}
    return deg(e)


class TestKcore:
    def test_random_graph_matches_reference(self, spark):
        import random

        from uckg_spark.plans.graphalgs import kcore

        rng = random.Random(7)
        nodes = [f"n{i}" for i in range(30)]
        edges = list({
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(70)
        })
        for k, rounds in [(2, 2), (3, 2), (2, 0)]:
            got = {r["node"]: r["core_deg"]
                   for r in kcore(_df(spark, edges), k=k, rounds=rounds)
                   .collect()}
            assert got == kcore_py(edges, k, rounds), (k, rounds)

    def test_pendant_peeled_triangle_survives(self, spark):
        from uckg_spark.plans.graphalgs import kcore

        edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
        got = {r["node"]: r["core_deg"]
               for r in kcore(_df(spark, edges), k=2, rounds=1).collect()}
        assert got == {"a": 2, "b": 2, "c": 2}

    def test_chain_fully_dissolves(self, spark):
        from uckg_spark.plans.graphalgs import kcore

        edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
        # each round peels both endpoints; 2 rounds empty a 4-edge chain
        assert kcore(_df(spark, edges), k=2, rounds=2).count() == 0

    def test_rounds_zero_is_raw_degrees(self, spark):
        from uckg_spark.plans.graphalgs import kcore

        edges = [("a", "b"), ("b", "c"), ("a", "a")]
        got = {r["node"]: r["core_deg"]
               for r in kcore(_df(spark, edges), k=5, rounds=0).collect()}
        assert got == {"a": 1, "b": 2, "c": 1}

    def test_invalid_params_raise(self, spark):
        import pytest

        from uckg_spark.plans.graphalgs import kcore

        df = _df(spark, [("a", "b")])
        with pytest.raises(ValueError):
            kcore(df, k=0)
        with pytest.raises(ValueError):
            kcore(df, k=2, rounds=-1)


def lpa_py(edges, rounds):
    """Synchronous LPA, driver-side reference (min-label tie break)."""
    und: dict[str, set[str]] = {}
    for a, b in edges:
        if a == b:
            continue
        und.setdefault(a, set()).add(b)
        und.setdefault(b, set()).add(a)
    labels = {n: n for n in und}
    for _ in range(rounds):
        nxt = {}
        for n, nbrs in und.items():
            counts: dict[str, int] = {}
            for m in nbrs:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            nxt[n] = min(counts, key=lambda l: (-counts[l], l))
        labels = nxt
    return labels


class TestLabelPropagation:
    def test_random_graph_matches_reference(self, spark):
        import random

        from uckg_spark.plans.graphalgs import label_propagation

        rng = random.Random(13)
        nodes = [f"n{i:02d}" for i in range(24)]
        edges = list({
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(60)
        })
        for rounds in (0, 1, 2, 3):
            got = {r["node"]: r["label"]
                   for r in label_propagation(_df(spark, edges),
                                              rounds=rounds).collect()}
            assert got == lpa_py(edges, rounds), rounds

    def test_two_cliques_with_bridge_separate(self, spark):
        from uckg_spark.plans.graphalgs import label_propagation

        clique1 = [("a1", "a2"), ("a1", "a3"), ("a2", "a3")]
        clique2 = [("b1", "b2"), ("b1", "b3"), ("b2", "b3")]
        edges = clique1 + clique2 + [("a3", "b1")]
        got = {r["node"]: r["label"]
               for r in label_propagation(_df(spark, edges),
                                          rounds=3).collect()}
        # the two triangles converge to different labels despite the
        # bridge (one connected component — CC could never split this)
        assert len({got["a1"], got["a2"]}) == 1
        assert len({got["b2"], got["b3"]}) == 1
        assert got["a1"] != got["b2"]

    def test_rounds_zero_is_identity(self, spark):
        from uckg_spark.plans.graphalgs import label_propagation

        got = label_propagation(
            _df(spark, [("x", "y")]), rounds=0).collect()
        assert {(r["node"], r["label"]) for r in got} == {
            ("x", "x"), ("y", "y")}

    def test_negative_rounds_raise(self, spark):
        import pytest

        from uckg_spark.plans.graphalgs import label_propagation

        with pytest.raises(ValueError):
            label_propagation(_df(spark, [("x", "y")]), rounds=-1)


class TestPersonalizedPagerank:
    def test_matches_python_reference(self, spark):
        import random

        from uckg_spark.plans.graphalgs import pagerank_fixed

        rng = random.Random(43)
        nodes = [f"n{i}" for i in range(15)]
        edges = list({
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(40)
        })
        seeds = ["n0", "n3"]

        def ppr_py(iters):
            e = sorted(set(edges))
            ns = sorted({a for a, _ in e} | {b for _, b in e})
            out: dict[str, int] = {}
            for a, _ in e:
                out[a] = out.get(a, 0) + 1
            r = {n: (1_000_000 if n in seeds else 0) for n in ns}
            for _ in range(iters):
                inc = {n: 0 for n in ns}
                for a, b in e:
                    inc[b] += r[a] // out[a]
                r = {
                    n: (150_000 if n in seeds else 0) + (85 * inc[n]) // 100
                    for n in ns
                }
            return r

        df = _df(spark, edges)
        for iters in (0, 1, 3):
            got = {r["node"]: r["rank"]
                   for r in pagerank_fixed(df, iterations=iters,
                                           seeds=seeds).collect()}
            assert got == ppr_py(iters), iters

    def test_unreachable_node_ranks_zero_seed_keeps_teleport(self, spark):
        from uckg_spark.plans.graphalgs import pagerank_fixed

        # island x->y disconnected from seed s->t
        edges = [("s", "t"), ("x", "y")]
        got = {r["node"]: r["rank"]
               for r in pagerank_fixed(_df(spark, edges), iterations=2,
                                       seeds=["s"]).collect()}
        assert got["x"] == 0 and got["y"] == 0
        assert got["s"] == 150_000           # teleport only (no in-edges)
        assert got["t"] > 0                  # receives seed mass

    def test_empty_seeds_raise(self, spark):
        import pytest

        from uckg_spark.plans.graphalgs import pagerank_fixed

        with pytest.raises(ValueError):
            pagerank_fixed(_df(spark, [("a", "b")]), seeds=[])
