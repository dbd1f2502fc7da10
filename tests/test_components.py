"""Connected components + k-core on graphs with known structure."""

import pytest
import os

from jasminegraph_spark.analytics import connected_components, k_core


@pytest.mark.sweep  # r14: multi-minute quality/property row -> sweep tier (see pyproject)
def test_reliable_checkpoint_mode(spark, tmp_path):
    """SCALE.md's cluster knob: with a checkpoint dir configured, iterative
    algorithms truncate lineage via reliable .checkpoint() into that dir
    (executor-loss-safe) and produce identical results."""
    from jasminegraph_spark import cache
    from jasminegraph_spark.analytics import pagerank

    edges = spark.createDataFrame([(0, 1), (1, 2), (3, 4), (4, 5)], ["src", "dst"])
    base_cc = {(r["node"], r["component"]) for r in connected_components(edges).collect()}
    base_pr = {
        (r["node"], round(r["rank"], 9)) for r in pagerank(edges, iterations=6).collect()
    }
    ckpt = str(tmp_path / "ckpt")
    cache.set_checkpoint_dir(spark, ckpt)
    try:
        rel_cc = {
            (r["node"], r["component"]) for r in connected_components(edges).collect()
        }
        rel_pr = {
            (r["node"], round(r["rank"], 9))
            for r in pagerank(edges, iterations=6).collect()
        }
        assert rel_cc == base_cc
        assert rel_pr == base_pr
        # reliable checkpoint files actually landed in the directory
        found = [os.path.join(d, f) for d, _, fs in os.walk(ckpt) for f in fs]
        assert found, "no reliable checkpoint files written"
    finally:
        cache.set_checkpoint_dir(spark, None)


def test_connected_components(spark):
    # two components: triangle {1,2,3} and path 10-11-12-13
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 13)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10}


def test_label_propagation_two_cliques(spark):
    from jasminegraph_spark.analytics import label_propagation

    # two triangles joined by one bridge edge: LPA resolves each triangle
    # to its min label; the bridge endpoints stay with their clique
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (3, 10)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["community"] for r in label_propagation(df, iterations=4).collect()}
    assert set(got) == {1, 2, 3, 10, 11, 12}
    # both triangles collapse to one community each
    assert len({got[1], got[2], got[3]}) == 1
    assert len({got[10], got[11], got[12]}) == 1


def test_k_core(spark):
    # K4 on {1,2,3,4} plus a pendant chain 4-5-6: 3-core = the K4 only
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = k4 + [(4, 5), (5, 6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    core3 = k_core(df, 3)
    assert sorted((r["a"], r["b"]) for r in core3.collect()) == sorted(k4)
    # 4-core is empty; 1-core keeps everything
    assert k_core(df, 4).count() == 0
    assert k_core(df, 1).count() == len(edges)


def test_shortest_paths_bfs(spark):
    # path 1-2-3-4-5 plus shortcut 1-4: distances from 1
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    from jasminegraph_spark.analytics import shortest_paths

    got = {r["node"]: r["distance"] for r in shortest_paths(df, 1).collect()}
    assert got == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}
    # unreachable nodes are absent; directed variant respects orientation
    got_dir = {
        r["node"]: r["distance"]
        for r in shortest_paths(
            spark.createDataFrame([(1, 2), (3, 1)], ["src", "dst"]), 1, undirected=False
        ).collect()
    }
    assert got_dir == {1: 0, 2: 1}


def test_pagerank_copartitioned_path_matches_broadcast(spark, sf_dir, monkeypatch):
    """The at-scale co-partitioned join (vertex count above the broadcast
    threshold) must produce identical ranks to the broadcast path — it
    otherwise first runs in production at 10M+ vertices. Both sides run
    the Spark rounds, past a driver bound of 0 pairs."""
    from pyspark.sql import functions as F

    from jasminegraph_spark import topology
    from jasminegraph_spark.analytics import pagerank
    from jasminegraph_spark.projection import co_order_edges

    monkeypatch.setattr(topology, "DRIVER_PAIRS", 0)
    e = co_order_edges(spark, sf_dir)
    a = {
        r["node"]: r["rank"]
        for r in pagerank(e, iterations=3, undirected=True).select(
            "node", F.round("rank", 9).alias("rank")
        ).collect()
    }
    b = {
        r["node"]: r["rank"]
        for r in pagerank(e, iterations=3, undirected=True, broadcast_threshold=0).select(
            "node", F.round("rank", 9).alias("rank")
        ).collect()
    }
    assert a == b and len(a) > 0


def test_bfs_shuffle_frontier_matches_broadcast(spark, sf_dir):
    """BFS with the frontier-broadcast hint disabled (threshold=0) must
    return identical distances — the big-frontier fallback path."""
    from jasminegraph_spark.analytics import shortest_paths
    from jasminegraph_spark.projection import co_order_edges

    e = co_order_edges(spark, sf_dir)
    a = {(r["node"], r["distance"]) for r in shortest_paths(e, 1, max_hops=3).collect()}
    b = {
        (r["node"], r["distance"])
        for r in shortest_paths(e, 1, max_hops=3, broadcast_threshold=0).collect()
    }
    assert a == b and len(a) > 1


def test_closeness_centrality_on_path_graph(spark):
    """Path 1—2—3—4—5: closeness(1) = 4/10, closeness(3) = 4/6 (center is
    closest); multi-source BFS computes both in one frame."""
    from jasminegraph_spark.analytics import closeness_centrality

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)], ["src", "dst"])
    out = {
        r["source"]: (r["n_reached"], r["total_dist"], r["closeness"])
        for r in closeness_centrality(edges, [1, 3], max_hops=10).collect()
    }
    assert out[1] == (5, 10, 0.4)
    assert out[3] == (5, 6, round(4 / 6, 6))


def test_betweenness_path_graph(spark):
    from jasminegraph_spark.analytics import betweenness_sampled

    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src: long, dst: long"
    )
    out = {r["node"]: r["betweenness"] for r in
           betweenness_sampled(path, [1], max_hops=3).collect()}
    # from source 1 within 3 hops: 2 lies on paths to 3 and 4; 3 on the
    # path to 4; node 5 is beyond the hop bound
    assert out == {2: 2.0, 3: 1.0}


def test_betweenness_diamond_splits_dependency(spark):
    from jasminegraph_spark.analytics import betweenness_sampled

    diamond = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src: long, dst: long"
    )
    out = {r["node"]: r["betweenness"] for r in
           betweenness_sampled(diamond, [1], max_hops=3).collect()}
    # two equal-length routes to 4: sigma(4)=2, each middle carries 1/2
    assert out == {2: 0.5, 3: 0.5}


def test_betweenness_multi_source_sums(spark):
    from jasminegraph_spark.analytics import betweenness_sampled

    path = spark.createDataFrame([(1, 2), (2, 3)], "src: long, dst: long")
    out = {r["node"]: r["betweenness"] for r in
           betweenness_sampled(path, [1, 3], max_hops=2).collect()}
    # node 2 is between (1,3) from BOTH sampled endpoints
    assert out == {2: 2.0}


def test_personalized_pagerank_seed_concentration(spark):
    """PPR from a seed: walk mass stays in the seed's component (the
    disconnected pair gets exactly 0), and the scores match a dense power-iteration of the same recurrence."""
    from jasminegraph_spark.analytics import personalized_pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(
            edges, [1], alpha=0.85, iterations=20, undirected=True
        ).collect()
    }
    assert got[10] == 0.0 and got[11] == 0.0
    # dense twin: same symmetrized graph, same restart vector
    import numpy as np

    nodes = [1, 2, 3, 4, 10, 11]
    idx = {n: i for i, n in enumerate(nodes)}
    und = {(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (10, 11), (11, 10)}
    out = {n: sum(1 for s, _ in und if s == n) for n in nodes}
    p = np.array([1.0 if n == 1 else 0.0 for n in nodes])
    r = p.copy()
    for _ in range(20):
        nxt = 0.15 * p
        for s, d in und:
            nxt[idx[d]] += 0.85 * r[idx[s]] / out[s]
        r = nxt
    for n in nodes:
        assert abs(got[n] - r[idx[n]]) < 1e-9, (n, got[n], r[idx[n]])


def test_interval_join_semantics(spark):
    """Bucketed interval join == brute-force range join on a crafted set:
    boundary inclusivity (start in, end out), intervals spanning multiple
    buckets, overlapping intervals double-matching a point."""
    from jasminegraph_spark.operators.temporal import interval_join

    points = spark.createDataFrame(
        [(i, float(t)) for i, t in enumerate([0, 99, 100, 3600, 7199, 7200, 10000])],
        ["pid", "ts"],
    )
    intervals = spark.createDataFrame(
        [(0, 0.0, 7200.0), (1, 100.0, 200.0), (2, 7000.0, 7300.0)],
        ["iid", "start", "end"],
    )
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(
            points, intervals, point_time="ts", bucket_seconds=3600
        ).collect()
    }
    brute = {
        (p, i)
        for p, t in [(0, 0), (1, 99), (2, 100), (3, 3600), (4, 7199), (5, 7200), (6, 10000)]
        for i, s, e in [(0, 0, 7200), (1, 100, 200), (2, 7000, 7300)]
        if s <= t < e
    }
    assert got == brute


def test_k_truss_peels_to_the_clique(spark):
    """k=4 truss of a 5-clique plus an attached triangle = exactly the
    clique (each clique edge has 3 supporting triangles; the triangle's
    edges have only 1 and peel off), with support recomputed on the
    survivor subgraph."""
    from itertools import combinations

    from jasminegraph_spark.analytics import k_truss

    clique = list(combinations(range(5), 2))
    extra = [(4, 10), (3, 10)]  # triangle (3,4,10) hangs off the clique
    edges = spark.createDataFrame(clique + extra, ["src", "dst"])
    got = {(r["a"], r["b"]): r["support"] for r in k_truss(edges, k=4).collect()}
    assert set(got) == set(clique)
    assert all(s == 3 for s in got.values())
    # k=3 keeps the hanging triangle too
    got3 = {(r["a"], r["b"]) for r in k_truss(edges, k=3).collect()}
    assert got3 == set(clique) | {(4, 10), (3, 10), (3, 4)}


def test_weighted_shortest_paths_known_graph(spark):
    """Bellman-Ford on a weighted diamond: the 2-hop cheap route beats
    the 1-hop expensive edge; unreachable nodes are absent; negative
    weights are rejected."""
    import pytest

    from jasminegraph_spark.analytics import weighted_shortest_paths

    edges = spark.createDataFrame(
        [(1, 2, 5.0), (1, 3, 1.0), (3, 2, 1.0), (2, 4, 1.0), (8, 9, 1.0)],
        ["src", "dst", "weight"],
    )
    got = {
        r["node"]: r["distance"]
        for r in weighted_shortest_paths(edges, 1, iterations=6).collect()
    }
    assert got == {1: 0.0, 3: 1.0, 2: 2.0, 4: 3.0}  # 1→3→2 beats 1→2
    with pytest.raises(ValueError):
        bad = spark.createDataFrame([(1, 2, -1.0)], ["src", "dst", "weight"])
        weighted_shortest_paths(bad, 1)


def test_random_walks_deterministic_and_adjacent(spark):
    """Walks take only existing edges, are identical across reruns, and a
    dead-end (directed sink) stops extending instead of erroring."""
    from jasminegraph_spark.analytics import random_walks

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (9, 10)], ["src", "dst"]
    )
    out1 = sorted(
        (r["source"], r["step"], r["node"])
        for r in random_walks(edges, [1, 9], length=4).collect()
    )
    out2 = sorted(
        (r["source"], r["step"], r["node"])
        for r in random_walks(edges, [1, 9], length=4).collect()
    )
    assert out1 == out2  # pure function of the graph
    adj = {(1, 2), (2, 3), (3, 1), (3, 4), (9, 10)}
    adj |= {(b, a) for a, b in adj}
    by_walk = {}
    for s, t, n in out1:
        by_walk.setdefault(s, {})[t] = n
    for s, steps in by_walk.items():
        assert steps[0] == s
        for t in range(1, max(steps) + 1):
            assert (steps[t - 1], steps[t]) in adj
    # directed sink: node 4 has no out-edge in a directed walk
    d = sorted(
        (r["step"], r["node"])
        for r in random_walks(
            spark.createDataFrame([(1, 4)], ["src", "dst"]),
            [4],
            length=3,
            undirected=False,
        ).collect()
    )
    assert d == [(0, 4)]


def test_hits_bipartite_known_structure(spark):
    """Max-normalized HITS on a small bipartite graph: the part bought
    by every customer is the top authority (1.0), the customer buying
    everything is the top hub (1.0); sources have authority 0."""
    from jasminegraph_spark.analytics import hits

    edges = spark.createDataFrame(
        # customers 1-3 → parts 11-13; 1 buys all, 11 bought by all
        [(1, 11), (1, 12), (1, 13), (2, 11), (3, 11), (3, 12)],
        ["src", "dst"],
    )
    got = {r["node"]: (r["hub"], r["authority"]) for r in hits(edges, iterations=8).collect()}
    assert got[11][1] == 1.0  # universal part = top authority
    assert got[1][0] == 1.0   # universal buyer = top hub
    assert got[11][0] == 0.0  # parts have no out-edges → hub 0
    assert got[2][1] == 0.0   # customers have no in-edges → authority 0
    assert got[2][0] < got[3][0] < got[1][0]  # hub order by basket breadth


def test_square_count_known_bipartite(spark):
    """One complete K_{2,2} = exactly 1 square; adding a pendant edge
    adds L3 paths but no squares; coefficient = 4·C4/L3."""
    from jasminegraph_spark.analytics import square_count

    k22 = [(1, 10), (1, 11), (2, 10), (2, 11)]
    r = square_count(spark.createDataFrame(k22, ["src", "dst"])).first()
    assert r["n_squares"] == 1
    assert r["n_l3_paths"] == 4  # each of the 4 edges closes one 3-path
    assert r["robins_alexander"] == 1.0
    r2 = square_count(
        spark.createDataFrame(k22 + [(3, 10)], ["src", "dst"])
    ).first()
    assert r2["n_squares"] == 1 and r2["n_l3_paths"] > 4
    assert 0 < r2["robins_alexander"] < 1.0


def test_walk_pmi_counting(spark):
    """PMI counting on a hand-built walk corpus: window-2 pairs, PMI
    formula exact."""
    import math

    from jasminegraph_spark.analytics import walk_cooccurrence_pmi

    walks = spark.createDataFrame(
        # one walk 1→2→3, one walk 1→2→4
        [(1, 0, 1), (1, 1, 2), (1, 2, 3), (9, 0, 1), (9, 1, 2), (9, 2, 4)],
        ["source", "step", "node"],
    )
    got = {(r["a"], r["b"]): r for r in walk_cooccurrence_pmi(walks, window=2).collect()}
    # pairs per walk: (1,2), (1,3|4), (2,3|4) → 6 total, (1,2) twice
    assert got[(1, 2)]["n_cooc"] == 2
    assert got[(2, 3)]["n_cooc"] == 1
    T = 6
    c1, c2 = 4, 4  # node 1: 2×(1,2)+ (1,3)+(1,4); node 2 likewise
    assert abs(got[(1, 2)]["pmi"] - math.log(2 * T / (c1 * c2))) < 1e-9


def test_modularity_known_partitions(spark):
    """Two disjoint triangles: the natural partition scores Q = 1/2 and
    beats both the all-in-one and the singleton partitions."""
    from jasminegraph_spark.analytics import modularity

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)], ["src", "dst"]
    )
    natural = spark.createDataFrame(
        [(n, 1) for n in (1, 2, 3)] + [(n, 2) for n in (4, 5, 6)],
        ["node", "community"],
    )
    lumped = spark.createDataFrame([(n, 1) for n in range(1, 7)], ["node", "community"])
    singles = spark.createDataFrame([(n, n) for n in range(1, 7)], ["node", "community"])
    q_nat = modularity(edges, natural).first()
    q_lump = modularity(edges, lumped).first()["modularity"]
    q_single = modularity(edges, singles).first()["modularity"]
    assert abs(q_nat["modularity"] - 0.5) < 1e-9
    assert q_nat["intra_edge_fraction"] == 1.0 and q_nat["n_communities"] == 2
    assert q_nat["modularity"] > q_lump > q_single


def test_apply_cdc_merge_semantics(spark):
    """MERGE semantics: latest op per key wins, D deletes, I inserts new
    keys, untouched snapshot rows survive."""
    from jasminegraph_spark.operators import apply_cdc

    snap = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "name", "v"]
    )
    changes = spark.createDataFrame(
        [
            (1, "U", 5, "a2", 11),   # update k=1
            (1, "U", 3, "aX", 99),   # older update — must lose
            (2, "D", 7, None, None), # delete k=2
            (4, "I", 2, "d", 40),    # insert new key
        ],
        ["k", "op", "ts", "name", "v"],
    )
    got = {r["k"]: (r["name"], r["v"]) for r in apply_cdc(snap, changes, ["k"]).collect()}
    assert got == {1: ("a2", 11), 3: ("c", 30), 4: ("d", 40)}


def test_feature_smoothing_contracts_toward_neighbors(spark):
    """On a 2-node edge with α=0.5, one round moves each value halfway
    to its neighbor; isolated nodes keep their value exactly; many
    rounds converge component-wise."""
    from jasminegraph_spark.analytics import feature_smoothing

    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    feats = spark.createDataFrame([(1, 0.0), (2, 10.0), (9, 7.0)], ["node", "f"])
    one = {r["node"]: r["f"] for r in feature_smoothing(edges, feats, rounds=1).collect()}
    assert one == {1: 5.0, 2: 5.0, 9: 7.0}
    many = {r["node"]: r["f"] for r in feature_smoothing(edges, feats, rounds=6).collect()}
    assert abs(many[1] - 5.0) < 1e-9 and abs(many[2] - 5.0) < 1e-9 and many[9] == 7.0


def test_edge_support_paths_agree(spark):
    """The degree-ordered wedge enumeration (power-law armor) and the
    default id-ordered join compute identical supports."""
    from itertools import combinations

    from jasminegraph_spark.analytics.graph_algs import canonical_undirected, edge_support

    edges = spark.createDataFrame(
        list(combinations(range(5), 2)) + [(4, 10), (3, 10), (0, 11)],
        ["src", "dst"],
    )
    und = canonical_undirected(edges)
    a = {(r["a"], r["b"]): r["support"] for r in edge_support(und).collect()}
    b = {
        (r["a"], r["b"]): r["support"]
        for r in edge_support(und, degree_ordered=True).collect()
    }
    assert a == b and a  # non-trivial and identical


def test_core_numbers_exact_on_known_graph(spark):
    """Converged h-index iteration equals exact coreness: a 4-clique
    (core 3) with a path tail (core 1) and a triangle (core 2)."""
    from itertools import combinations

    from jasminegraph_spark.analytics import core_numbers, k_core

    clique = list(combinations(range(4), 2))
    tail = [(3, 10), (10, 11)]
    tri = [(20, 21), (21, 22), (20, 22)]
    edges = spark.createDataFrame(clique + tail + tri, ["src", "dst"])
    got = {r["node"]: r["core"] for r in core_numbers(edges, rounds=10).collect()}
    assert all(got[n] == 3 for n in range(4))
    assert got[10] == 1 and got[11] == 1
    assert all(got[n] == 2 for n in (20, 21, 22))
    # consistency with the k_core peel: nodes of core >= 2 == k_core(2) nodes
    kc = k_core(edges, k=2)
    kc_nodes = {r["a"] for r in kc.collect()} | {r["b"] for r in kc.collect()}
    assert {n for n, c in got.items() if c >= 2} == kc_nodes


def test_weighted_pagerank_favors_heavy_edges(spark):
    """A star where one spoke has 10x weight: that spoke outranks the
    others; with equal weights the weighted loop equals the classic."""
    from jasminegraph_spark.analytics import pagerank

    edges = spark.createDataFrame(
        [(0, 1, 10.0), (0, 2, 1.0), (0, 3, 1.0)], ["src", "dst", "w"]
    )
    wr = {r["node"]: r["rank"] for r in pagerank(
        edges, iterations=8, undirected=True, weight_col="w"
    ).collect()}
    assert wr[1] > wr[2] and abs(wr[2] - wr[3]) < 1e-12
    flat = spark.createDataFrame(
        [(0, 1, 2.0), (0, 2, 2.0), (0, 3, 2.0)], ["src", "dst", "w"]
    )
    a = {r["node"]: round(r["rank"], 9) for r in pagerank(
        flat, iterations=6, undirected=True, weight_col="w"
    ).collect()}
    b = {r["node"]: round(r["rank"], 9) for r in pagerank(
        flat.select("src", "dst"), iterations=6, undirected=True
    ).collect()}
    assert a == b


def test_coarsen_contracts_communities(spark):
    """Two triangles bridged by one edge, labeled as two communities:
    coarsening yields 2 self rows (weight 3) and 1 cross row (weight 1)."""
    from jasminegraph_spark.analytics import coarsen

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)], ["src", "dst"]
    )
    communities = spark.createDataFrame(
        [(n, 1) for n in (1, 2, 3)] + [(n, 2) for n in (4, 5, 6)],
        ["node", "community"],
    )
    got = {(r["ca"], r["cb"]): r["weight"] for r in coarsen(edges, communities).collect()}
    assert got == {(1, 1): 3, (2, 2): 3, (1, 2): 1}


def test_node2vec_feeds_pmi(spark):
    """The biased walk corpus has the same (source, step, node) shape as
    random_walks, so the skip-gram PMI counter composes unchanged — the
    full node2vec feature pipeline (biased walks → windowed PMI) as a
    pure function of the graph."""
    from jasminegraph_spark.analytics import node2vec_walks, walk_cooccurrence_pmi

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    walks = node2vec_walks(df, [1, 2, 3], length=4, p=2.0, q=0.5)
    pmi = walk_cooccurrence_pmi(walks, window=2)
    rows = pmi.collect()
    assert rows, "biased corpus must produce co-occurrence pairs"
    # deterministic composition end to end
    again = walk_cooccurrence_pmi(
        node2vec_walks(df, [1, 2, 3], length=4, p=2.0, q=0.5), window=2
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


# --- r6 convergence/empty-input guards (ADVICE r5) ---


def test_scc_empty_edge_frame_returns_typed_empty(spark):
    from jasminegraph_spark.analytics.components import strongly_connected_components

    e = spark.createDataFrame([], "src long, dst long")
    out = strongly_connected_components(e)
    assert out.columns == ["node", "component"]
    assert out.count() == 0


def test_mis_empty_edge_frame_returns_typed_empty(spark):
    from jasminegraph_spark.analytics.components import maximal_independent_set

    e = spark.createDataFrame([], "src long, dst long")
    out = maximal_independent_set(e)
    assert out.count() == 0


def test_scc_long_cycle_raises_instead_of_partial(spark):
    """A directed cycle longer than the propagation budget must RAISE,
    not silently decompose into split SCCs (ADVICE r5 #1)."""
    import pytest

    from jasminegraph_spark.analytics.components import strongly_connected_components

    n = 12
    e = spark.createDataFrame([(i, (i + 1) % n) for i in range(n)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        strongly_connected_components(e, max_propagation=3)
    # ample budget on the same graph → one SCC covering the whole cycle
    out = strongly_connected_components(e, max_propagation=2 * n)
    assert {(r["node"], r["component"]) for r in out.collect()} == {
        (i, 0) for i in range(n)
    }


def test_mis_round_exhaustion_raises(spark):
    import pytest

    from jasminegraph_spark.analytics.components import maximal_independent_set

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    with pytest.raises(RuntimeError, match="max_rounds"):
        maximal_independent_set(e, max_rounds=0)


def test_node2vec_corpus_multi_walk(spark):
    """Walk corpus: R walks per source from a SOURCE TABLE (default all
    vertices), deterministic, edges-respecting, sibling walks diverging
    via the walk-indexed hash; PMI counting keys sentences on
    (source, walk) so siblings never co-occur."""
    from jasminegraph_spark.analytics import node2vec_corpus, walk_cooccurrence_pmi

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (2, 4)], "src long, dst long"
    )
    adj = {(s, d) for s, d in [(r["src"], r["dst"]) for r in edges.collect()]}
    adj |= {(d, s) for s, d in adj}
    corpus = node2vec_corpus(edges, n_walks=3, length=4, p=2.0, q=0.5)
    rows = corpus.collect()
    assert len(rows) == 4 * 3 * 5  # |V| * R * (length+1)
    # every consecutive step follows an edge
    byw = {}
    for r in rows:
        byw.setdefault((r["source"], r["walk"]), {})[r["step"]] = r["node"]
    for (s, w), steps in byw.items():
        assert steps[0] == s
        for t in range(4):
            assert (steps[t], steps[t + 1]) in adj
    # sibling walks diverge for at least one source
    assert any(
        byw[(s, 0)] != byw[(s, 1)] for s in {r["source"] for r in rows}
    )
    # explicit source table restricts the corpus
    srcs = spark.createDataFrame([(1,), (3,)], "node long")
    sub = node2vec_corpus(edges, sources=srcs, n_walks=2, length=2)
    assert {r["source"] for r in sub.collect()} == {1, 3}
    # PMI over the corpus: a pair seen only across sibling walks at the
    # same source must NOT be counted (sentence id = (source, walk))
    pmi = walk_cooccurrence_pmi(corpus, window=1).collect()
    assert all(r["n_cooc"] > 0 for r in pmi)
    # recompute expected pair count by hand for window=1
    import math

    exp_pairs = {}
    for (s, w), steps in byw.items():
        for t in range(4):
            a, b = sorted((steps[t], steps[t + 1]))
            exp_pairs[(a, b)] = exp_pairs.get((a, b), 0) + 1
    got = {(r["a"], r["b"]): r["n_cooc"] for r in pmi}
    assert got == exp_pairs


def test_triangle_count_conf_independent_of_legacy_size_of_null(spark):
    """ADVICE r12: size(array_intersect(...)) on a DAG-sink edge's NULL
    neighbor array must count 0 regardless of session conf. With ANSI off
    and spark.sql.legacy.sizeOfNull=true, size(NULL) is -1 (not NULL), so
    an outer coalesce never fires and every sink edge would subtract one
    triangle; the plan coalesces the array itself to empty BEFORE the
    intersection, making the count conf-independent."""
    from jasminegraph_spark.analytics import triangle_count

    ansi = spark.conf.get("spark.sql.ansi.enabled", None)
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.legacy.sizeOfNull", "true")
        # triangle {1,2,3} plus a pendant sink edge 3->4 (NULL ns_v row)
        e = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
        )
        assert triangle_count(e) == 1
    finally:
        spark.conf.unset("spark.sql.legacy.sizeOfNull")
        if ansi is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_assume_canonical_matches_default_on_canonical_input(spark):
    """r13: the assume_canonical fast path must produce identical labels
    to the default path whenever its contract holds (a<b distinct
    self-loop-free edges). The skip only elides the re-derivation
    shuffle, never the semantics."""
    from jasminegraph_spark.analytics import connected_components

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (6, 7), (7, 8), (10, 11)],
        "src long, dst long",
    )
    base = {(r["node"], r["component"]) for r in connected_components(e).collect()}
    lean = {
        (r["node"], r["component"])
        for r in connected_components(e, assume_canonical=True).collect()
    }
    assert lean == base


def test_assume_canonical_triangles_and_sage_match_default(spark):
    """r13: the assume_canonical fast path of triangle_count_df and
    sage_embeddings must match the default path on canonical input (a<b
    distinct self-loop-free edges) — the skip only elides the
    re-canonicalization shuffle, never the semantics."""
    from jasminegraph_spark.analytics import sage_embeddings, triangle_count_df

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4), (5, 6)],
        "src long, dst long",
    )
    base_t = triangle_count_df(e).first()["n_triangles"]
    lean_t = triangle_count_df(e, assume_canonical=True).first()["n_triangles"]
    assert lean_t == base_t == 2

    for kw in ({}, {"sample": [2, 2], "hash_fn": "md5"}):
        base = {tuple(r) for r in sage_embeddings(e, layers=2, **kw).collect()}
        lean = {
            tuple(r)
            for r in sage_embeddings(
                e, layers=2, assume_canonical=True, **kw
            ).collect()
        }
        assert lean == base, kw


def test_wsp_dedup_edges_false_matches_default_on_deduped_input(spark):
    """r13: weighted_shortest_paths(dedup_edges=False) must produce
    identical distances to the default path whenever its contract holds
    (no duplicate (src, dst) rows — a<b distinct weighted projections).
    The skip only elides the identity min-groupBy, never the semantics."""
    from jasminegraph_spark.analytics import weighted_shortest_paths

    e = spark.createDataFrame(
        [(1, 2, 5.0), (1, 3, 1.0), (3, 2, 1.0), (2, 4, 1.0), (8, 9, 1.0)],
        ["src", "dst", "weight"],
    )
    base = {
        (r["node"], r["distance"])
        for r in weighted_shortest_paths(e, 1, iterations=6).collect()
    }
    lean = {
        (r["node"], r["distance"])
        for r in weighted_shortest_paths(
            e, 1, iterations=6, dedup_edges=False
        ).collect()
    }
    assert lean == base
