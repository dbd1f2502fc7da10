"""Connected components and k-core decomposition as DataFrame iterations.

Neither is dispatched in the reference frontend (`kcore` exists only in
the protocol header, FrontEnd has no branch — SURVEY §2.3 'vestigial'),
but both are standard property-graph analytics a JasmineGraph user would
expect next to triangles/PageRank, and both fit Spark's iterate-join model.

Scale notes:
 * connected_components collects the canonical half of the resident
   adjacency (u <= v) in one Spark job and labels it on the driver with a
   vectorised union-find in O(log n) passes, whatever the diameter. Past
   topology.DRIVER_PAIRS pairs it runs hash-min label propagation
   instead: each round is one partial-aggregated groupBy over the
   adjacency; rounds ≈ graph diameter (small for real-world graphs).
   Lineage is truncated per round.
 * k_core peels minimum-degree vertices iteratively; each round is a
   degree groupBy + semi-join filter. Like the hash-min rounds, it
   materializes nothing on the driver beyond the convergence counters.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from jasminegraph_spark.analytics.graph_algs import canonical_undirected
from jasminegraph_spark.cache import checkpoint, checkpoint_fresh_stats, finalize
from jasminegraph_spark.topology import Topology, topology_of


def connected_components(
    edges,
    max_iterations: int = 20,
    broadcast_threshold: int = 10_000_000,
    assume_canonical: bool = False,
) -> DataFrame:
    """Weakly connected components. Returns (node, component) with
    component = the smallest node id reachable, under the id column's own
    Spark ordering (numeric for longs, UTF-8 bytes for strings), and node
    of the input's id type. Self-loops are ignored: a vertex with no other
    edge has no row.

    Runs on a :class:`~jasminegraph_spark.topology.Topology`: ``edges`` is
    the catalog's resident one, or an edge DataFrame that gets a
    temporary one released with the result. ``assume_canonical=True``
    (r13) asserts the edge DataFrame is already an a<b distinct
    self-loop-free projection (true for co_order_edges and any
    canonical_undirected output), so the temporary topology skips its
    dedup — the labels are invariant under edge direction and
    duplication anyway.

    While the topology holds at most
    :data:`~jasminegraph_spark.topology.DRIVER_PAIRS` undirected pairs,
    the labels are exact in one Spark job whatever the diameter: the
    canonical half of the adjacency is collected once as Arrow and
    labelled on the driver (:func:`_min_labels`). Past that bound the
    labels come from hash-min rounds on the cluster, one job per round
    over the adjacency; ``max_iterations`` and ``broadcast_threshold``
    bind only those rounds.
    """
    topo, owned = topology_of(edges, distinct=not assume_canonical)
    if topo.on_driver:
        try:
            return _components_on_driver(topo)
        finally:
            for df in owned:
                df.unpersist()
    caches = list(owned)
    adj = topo.adj.select("u", "v").filter(F.col("u") != F.col("v"))
    # the label table is |V| rows vs |E| adjacency rows: broadcast it while
    # it fits so the adjacency is never re-shuffled per round (same guard
    # as pagerank). In that regime each round's only |E|-sized exchange
    # would be the groupBy(u) neighbor-min aggregation, and the topology
    # is already partitioned by u (the alias u → node carries through the
    # select), so every round is exchange-free. Past the threshold the
    # per-round join on v shuffles the adjacency instead, so partition it
    # by the join key v once, and materialize it before the rounds: an
    # un-materialized cache hides its partitioning behind an unresolved
    # AdaptiveSparkPlan, and every round planned against it would
    # re-insert the exchange the repartition removes.
    n_nodes = topo.n_vertices
    if n_nodes > broadcast_threshold:
        adj = adj.repartition("v").persist()
        caches.append(adj)
        adj.count()
    labels = adj.select(F.col("u").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    brd = (lambda df: F.broadcast(df)) if n_nodes <= broadcast_threshold else (lambda df: df)
    for i in range(max_iterations):
        # candidate = min(own, min over neighbors' labels); carrying the
        # old label through the checkpoint makes the convergence check a
        # filter-count on already-materialized data — no extra join and
        # no recomputation of the round (2 jobs/round → 1 + cheap count)
        nbr_min = (
            adj.join(brd(labels), adj.v == labels.node)
            .select(F.col("u").alias("node"), F.col("component").alias("cand"))
            .groupBy("node")
            .agg(F.min("cand").alias("nbr_min"))
        )
        cand = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.col("component").alias("old"),
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
            )
            # LAZY checkpoint + the convergence count as the materializing
            # action = ONE Spark job per round instead of two (r13, same
            # fusion as the streaming tracker): the filter-count scans
            # every partition, so all checkpoint blocks are pinned before
            # the next round (or the broadcast collect) reads them
            .transform(lambda df: checkpoint(df, eager=False))
        )
        changed = cand.filter(F.col("component") != F.col("old")).count()
        labels = cand.select("node", "component")
        if changed == 0:
            break
    return finalize(labels, *caches)


def _components_on_driver(topo: Topology) -> DataFrame:
    """(node, component) from one Arrow collect of the canonical half of
    the topology. Index order is id order, so a component's smallest index
    is its smallest id. Self-loops are dropped, and with them every vertex
    that has no other edge."""
    ids, u, v = topo.collect_pairs()
    cross = u != v
    u, v = u[cross], v[cross]
    keep = np.zeros(len(ids), dtype=bool)
    keep[u] = keep[v] = True
    labels = pa.table({"node": ids, "component": ids.take(_min_labels(len(ids), u, v))})
    id_type = topo.adj.schema["u"].dataType
    schema = StructType([StructField("node", id_type), StructField("component", id_type)])
    return topo.adj.sparkSession.createDataFrame(labels.filter(pa.array(keep)), schema)


def _min_labels(n: int, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """The smallest vertex index connected to each of ``n`` vertices by
    the edges ``(u[i], v[i])``. Each pass hooks every root onto the
    smallest root across its edges, then flattens every tree by pointer
    jumping. A root with an edge to another root merges with at least one
    of them in each pass, so a component's roots at least halve per pass:
    O(log n) passes, each O(log n) jumps, whatever the diameter."""
    parent = np.arange(n)
    while len(u):
        np.minimum.at(parent, np.maximum(u, v), np.minimum(u, v))
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up
        u, v = parent[u], parent[v]
        cross = u != v
        u, v = u[cross], v[cross]
    return parent


def shortest_paths(
    edges: DataFrame,
    source,
    max_hops: int = 20,
    undirected: bool = True,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """Single-source BFS distances: (node, distance) for every node
    reachable from ``source`` within ``max_hops``.

    Frontier-expansion BFS: each round joins the frontier against
    adjacency and anti-joins the visited set. The frontier carries the
    broadcast hint only while its (already-counted) size stays under
    ``broadcast_threshold`` — on a power-law graph a middle BFS level can
    approach |V|, where an unconditional broadcast would OOM the driver;
    big frontiers fall back to the co-partitioned shuffle join.
    """
    e = edges.select("src", "dst")
    if undirected:
        e = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.distinct().persist()
    visited = e.sparkSession.createDataFrame(
        [(source, 0)], schema=e.select("src").withColumn("distance", F.lit(0)).schema
    ).withColumnRenamed("src", "node")
    frontier = visited
    frontier_rows = 1
    for hop in range(1, max_hops + 1):
        f = frontier.select("node")
        if frontier_rows <= broadcast_threshold:
            f = F.broadcast(f)
        nxt = (
            f.join(e, F.col("node") == F.col("src"))
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("distance", F.lit(hop))
            .transform(checkpoint)
        )
        frontier_rows = nxt.count()  # materialized: count is metadata-cheap
        if frontier_rows == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return finalize(visited, e)


def multi_source_bfs(
    edges: DataFrame,
    sources: list,
    max_hops: int = 20,
    undirected: bool = True,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """BFS from MANY sources in one frame: (source, node, distance) for
    every node within ``max_hops`` of each source.

    All sources expand together — per hop ONE join of the labeled
    frontier against adjacency and one anti-join against the per-source
    visited set, instead of |sources| separate BFS jobs. The frontier
    broadcast hint drops once the level outgrows ``broadcast_threshold``
    (same power-law armor as shortest_paths).
    """
    e = edges.select("src", "dst")
    if undirected:
        e = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.distinct().persist()
    spark = e.sparkSession
    src_type = e.schema["src"].dataType
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("source", src_type),
            T.StructField("node", src_type),
            T.StructField("distance", T.IntegerType()),
        ]
    )
    visited = spark.createDataFrame([(s, s, 0) for s in sources], schema)
    frontier = visited
    frontier_rows = len(sources)
    for hop in range(1, max_hops + 1):
        f = frontier.select("source", "node")
        if frontier_rows <= broadcast_threshold:
            f = F.broadcast(f)
        nxt = (
            f.join(e, F.col("node") == F.col("src"))
            .select("source", F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("source", "node"), ["source", "node"], "left_anti")
            .withColumn("distance", F.lit(hop))
            .transform(checkpoint)
        )
        frontier_rows = nxt.count()
        if frontier_rows == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return finalize(visited, e)


def closeness_centrality(
    edges: DataFrame, sources: list, max_hops: int = 20, undirected: bool = True
) -> DataFrame:
    """Closeness centrality of the sampled ``sources`` (the standard
    sampled estimator at scale — exact closeness needs all-pairs
    distances): c(s) = (reached − 1) / Σ distances within ``max_hops``.
    Returns (source, n_reached, total_dist, closeness rounded to 6)."""
    d = multi_source_bfs(edges, sources, max_hops, undirected)
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_reached"),
            F.sum("distance").alias("total_dist"),
        )
        .select(
            "source",
            "n_reached",
            "total_dist",
            F.round(
                (F.col("n_reached") - 1)
                / F.when(F.col("total_dist") > 0, F.col("total_dist")),
                6,
            ).alias("closeness"),
        )
    )


def label_propagation(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection: every round each
    vertex adopts the most frequent label among its NEIGHBORS (ties → the
    smallest label; isolated semantics don't arise — every vertex here is
    edge-incident). Deterministic, so oracle-checkable round for round.
    Returns (node, community) after ``iterations`` rounds.

    Same recurrence the METIS-role partitioner uses internally
    (streaming/partitioners.community_partition); exposed first-class as
    the community-detection analytics surface. Each round is one
    adjacency⋈labels join + per-node window top-1 — shuffle keyed on the
    node, lineage truncated per round."""
    from pyspark.sql.window import Window

    und = canonical_undirected(edges).persist()
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).persist()
    labels = adj.select(F.col("u").alias("node")).distinct().withColumn(
        "community", F.col("node")
    )
    w = Window.partitionBy("node").orderBy(F.desc("n"), F.asc("community"))
    for _ in range(iterations):
        labels = (
            adj.join(labels, adj.v == labels.node)
            .select(F.col("u").alias("node"), "community")
            .groupBy("node", "community")
            .agg(F.count("*").alias("n"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "community")
            .transform(checkpoint)
        )
    return finalize(labels, und, adj)


def k_core(edges: DataFrame, k: int, max_iterations: int = 50) -> DataFrame:
    """The k-core: the maximal subgraph where every vertex has degree ≥ k.
    Returns the surviving edge list (a, b). Iterative peel: drop vertices
    with degree < k until fixpoint."""
    core = canonical_undirected(edges).transform(checkpoint)
    # carry the previous round's size in a Python variable: one count job
    # per round, not two (pruned.count() == core.count() re-counts the
    # frame counted last round)
    n_prev = core.count()
    for i in range(max_iterations):
        deg = (
            core.select(F.col("a").alias("v")).unionAll(core.select(F.col("b")))
            .groupBy("v")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("v")
        pruned = (
            core.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
            .select("a", "b")
            .transform(checkpoint)
        )
        n_now = pruned.count()
        if n_now == n_prev:
            return pruned
        core, n_prev = pruned, n_now
    return core


def betweenness_sampled(
    edges: DataFrame,
    sources: list,
    max_hops: int = 3,
    undirected: bool = True,
) -> DataFrame:
    """Sampled betweenness centrality (Brandes 2001, source-sampled — the
    standard estimator at scale; exact betweenness needs all-pairs).

    Forward phase: one MULTI-SOURCE level-synchronous frame carries
    (source, node, dist, sigma) where sigma counts shortest paths —
    each level is a frontier⋈adjacency join aggregated on (source, node)
    summing sigma, anti-joined against visited (same shape as
    multi_source_bfs, one extra additive column). Backward phase: walk
    levels deepest-first accumulating the Brandes dependency
    delta(v) = Σ_{w ∈ succ(v)} sigma_v/sigma_w · (1 + delta(w)) — one
    join per level, ≤ ``max_hops`` joins total, never per-source jobs.

    Returns (node, betweenness) for nodes with nonzero accumulated
    dependency over the sampled sources (endpoints excluded, per
    Brandes). Deterministic up to float summation order; callers round.
    """
    e = edges.select("src", "dst")
    if undirected:
        e = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.distinct().persist()
    spark = e.sparkSession
    src_type = e.schema["src"].dataType
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("source", src_type),
            T.StructField("node", src_type),
            T.StructField("dist", T.IntegerType()),
            T.StructField("sigma", T.LongType()),
        ]
    )
    visited = spark.createDataFrame([(s, s, 0, 1) for s in sources], schema)
    frontier = visited
    levels = [visited]
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier.node == e.src)
            .groupBy("source", F.col("dst").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited.select("source", "node"), ["source", "node"], "left_anti")
            .withColumn("dist", F.lit(hop))
            .select("source", "node", "dist", "sigma")
            .transform(checkpoint)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
        levels.append(nxt)

    # backward accumulation, deepest level first. Iteration h computes
    # the deltas OF the level-(h-1) nodes from their level-h successors;
    # every level's delta frame is kept (a node's betweenness sums its
    # delta across sources, and each (source, node) sits at exactly one
    # level) — only the h=1 result (the sources' own deltas) is excluded.
    delta = None  # deltas of level h (the successor side)
    level_deltas: list[DataFrame] = []
    for h in range(len(levels) - 1, 0, -1):
        lower = levels[h]  # nodes at dist h (the "w" side)
        upper = levels[h - 1]  # their shortest-path predecessors
        w_side = lower.select(
            "source",
            F.col("node").alias("w"),
            F.col("sigma").alias("sigma_w"),
        )
        if delta is not None:
            w_side = w_side.join(
                delta.select("source", F.col("node").alias("w"), "delta"),
                ["source", "w"],
                "left_outer",
            ).fillna(0.0, subset=["delta"])
        else:
            w_side = w_side.withColumn("delta", F.lit(0.0))
        contrib = (
            upper.join(e, upper.node == e.src)
            .select("source", "node", "sigma", F.col("dst").alias("w"))
            .join(w_side, ["source", "w"])
            .groupBy("source", "node")
            .agg(
                F.sum(
                    F.col("sigma") / F.col("sigma_w") * (F.lit(1.0) + F.col("delta"))
                ).alias("delta")
            )
            .transform(checkpoint)
        )
        delta = contrib
        if h > 1:  # h == 1 yields the sources' own deltas — not counted
            level_deltas.append(contrib)
    if not level_deltas:
        out = spark.createDataFrame([], "node string, betweenness double")
        return finalize(out, e)
    all_d = level_deltas[0]
    for d in level_deltas[1:]:
        all_d = all_d.unionByName(d)
    out = (
        all_d.filter(~F.col("node").isin(sources))
        .groupBy("node")
        .agg(F.sum("delta").alias("betweenness"))
    )
    return finalize(out, e)


def harmonic_centrality(
    edges: DataFrame,
    sources: list,
    max_hops: int = 20,
    undirected: bool = True,
) -> DataFrame:
    """Sampled harmonic centrality: h(s) = Σ_{v≠s} 1/d(s,v) within
    ``max_hops`` — the closeness variant that stays well-defined on
    disconnected graphs (unreached nodes contribute 0 instead of
    poisoning the mean). Same single multi-source BFS frame as
    closeness_centrality; one extra reciprocal-sum aggregate."""
    d = multi_source_bfs(edges, sources, max_hops, undirected)
    counts = (
        d.filter(F.col("distance") > 0)
        .groupBy("source", "distance")
        .agg(F.count("*").alias("n"))
    )
    # fold per-distance counts in ASCENDING distance order: the sum is a
    # fixed-order expression over integers, so the double is bit-identical
    # across engines/partitionings (a naive SUM(1/d) floats in whatever
    # order rows arrive)
    fold = F.aggregate(
        F.array_sort(F.collect_list(F.struct("distance", "n"))),
        F.lit(0.0),
        lambda acc, s: acc + s["n"].cast("double") / s["distance"],
    )
    return counts.groupBy("source").agg(
        F.sum("n").alias("n_reached"), fold.alias("harmonic")
    )


def weighted_shortest_paths(
    edges: DataFrame,
    source,
    weight_col: str = "weight",
    iterations: int = 10,
    undirected: bool = True,
    broadcast_threshold: int = 10_000_000,
    dedup_edges: bool = True,
) -> DataFrame:
    """Single-source WEIGHTED shortest paths, Bellman-Ford style:

        d_{k+1}(v) = min(d_k(v), min_{(u,v)} d_k(u) + w(u,v))

    Returns (node, distance) for every node reached within ``iterations``
    relaxation rounds (paths of <= ``iterations`` edges — the fixed round
    budget is what makes the recurrence unrollable as an oracle; a
    converged run is a fixpoint of the same recurrence).

    Dijkstra's priority queue is inherently sequential; Bellmann-Ford's
    round = ONE equi-join of the distance table against the edge list +
    one min-aggregation, which is exactly Spark's sweet spot. The
    distance table (<= |V| rows) carries the broadcast hint below the
    threshold so the persisted edge frame never re-shuffles per round
    (same guard as pagerank); lineage truncates every round.

    Negative weights are rejected: with them, ``iterations`` bounds the
    path length but intermediate distances could drop below any floor
    (cycle detection is a different operator).
    """
    e = edges.select("src", "dst", F.col(weight_col).alias("w"))
    if undirected:
        e = e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    if dedup_edges:
        # parallel edges: keep the cheapest (min is the only one that can win)
        e = e.groupBy("src", "dst").agg(F.min("w").alias("w"))
    # ``dedup_edges=False`` (r13) asserts the caller's edge set carries no
    # duplicate (src, dst) rows — true for any a<b distinct weighted
    # projection (co_order_weighted_edges), whose symmetrized union cannot
    # collide either — and skips that |E|-row exchange + min-aggregation
    # (min over singletons is the identity, so labels are unchanged; the
    # flag only avoids re-deriving what the caller already guarantees).
    e = e.persist()
    if e.filter(F.col("w") < 0).limit(1).count() > 0:
        e.unpersist()
        raise ValueError("weighted_shortest_paths requires non-negative weights")
    spark = e.sparkSession
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("node", e.schema["src"].dataType),
            T.StructField("distance", T.DoubleType()),
        ]
    )
    dist = spark.createDataFrame([(source, 0.0)], schema)
    n_rows = 1
    for _ in range(iterations):
        d = F.broadcast(dist) if n_rows <= broadcast_threshold else dist
        relaxed = (
            e.join(d, e.src == d.node)
            .select(F.col("dst").alias("node"), (F.col("distance") + F.col("w")).alias("distance"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("distance").alias("distance"))
            # eager on purpose: the count-fusion that won the CC A/B
            # measured NO win here (3/4 interleaved pairs slower, r13) —
            # the distance table is tiny, so the fused-away job was
            # already cheap and the lazy path just adds variance
            .transform(checkpoint)
        )
        n_rows = dist.count()
    return finalize(dist, e)


def modularity(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Newman modularity Q of a community assignment over an undirected
    graph — the standard partition-quality score for label_propagation /
    community_partition output:

        Q = Σ_c [ e_c / m  −  (d_c / 2m)² ]

    (e_c = intra-community edges, d_c = total degree in c, m = |E|).
    One labels join onto the canonical edge list + two small per-
    community aggregations; the scalar totals travel as broadcast 1-row
    frames. Returns one row (n_communities, intra_edge_fraction,
    modularity).

    ``communities`` carries (node, community).
    """
    from jasminegraph_spark.analytics.graph_algs import canonical_undirected

    und = canonical_undirected(edges).persist()
    la = communities.select(F.col("node").alias("a"), F.col("community").alias("ca"))
    lb = communities.select(F.col("node").alias("b"), F.col("community").alias("cb"))
    labeled = und.join(la, "a").join(lb, "b")
    m = und.count()
    intra = labeled.filter(F.col("ca") == F.col("cb")).groupBy(
        F.col("ca").alias("community")
    ).agg(F.count("*").alias("e_c"))
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select("b"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    d_c = (
        communities.join(deg, "node")
        .groupBy("community")
        .agg(F.sum("d").alias("d_c"))
    )
    per_c = d_c.join(intra, "community", "left").select(
        "community",
        F.coalesce("e_c", F.lit(0)).alias("e_c"),
        "d_c",
    )
    out = per_c.agg(
        F.count("*").alias("n_communities"),
        (F.sum("e_c") / F.lit(float(m))).alias("intra_edge_fraction"),
        F.sum(
            F.col("e_c") / F.lit(float(m))
            - F.pow(F.col("d_c") / F.lit(2.0 * m), F.lit(2.0))
        ).alias("modularity"),
    )
    return finalize(out, und)


def feature_smoothing(
    edges: DataFrame,
    features: DataFrame,
    rounds: int = 2,
    alpha: float = 0.5,
    undirected: bool = True,
    broadcast_threshold: int = 10_000_000,
) -> DataFrame:
    """GNN-style feature propagation (the aggregation half of a graph
    convolution, label-spreading's numeric twin):

        f_{k+1}(v) = α·f_k(v) + (1-α)·mean_{u∈N(v)} f_k(u)

    Isolated nodes keep their own value (the neighbor mean falls back to
    f_k(v)). ``features`` carries (node, f). Per round: one join of the
    feature table (broadcast under the size guard) against the persisted
    adjacency + one mean aggregation — the pagerank loop shape, reused
    for features instead of rank mass; lineage truncated per round.
    Returns (node, f) after ``rounds`` rounds.
    """
    e = edges.select("src", "dst")
    if undirected:
        e = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.distinct().persist()
    f = features.select("node", F.col("f").cast("double").alias("f"))
    n_nodes = f.count()
    brd = (lambda df: F.broadcast(df)) if n_nodes <= broadcast_threshold else (lambda df: df)
    for _ in range(rounds):
        nbr = (
            e.join(brd(f), e.dst == f.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.avg("f").alias("nbr_mean"))
        )
        f = (
            f.join(nbr, "node", "left")
            .select(
                "node",
                (
                    F.lit(alpha) * F.col("f")
                    + F.lit(1.0 - alpha) * F.coalesce("nbr_mean", F.col("f"))
                ).alias("f"),
            )
            .transform(checkpoint)
        )
    return finalize(f, e)


def core_numbers(
    edges: DataFrame,
    rounds: int = 8,
    broadcast_threshold: int = 10_000_000,
) -> DataFrame:
    """Per-node CORE NUMBER (the k of the maximal k-core containing the
    node) via the h-index iteration ("k-core decomposition is local"):

        c_0(v)     = deg(v)
        c_{t+1}(v) = min(c_t(v), h-index{ c_t(u) : u ∈ N(v) })

    where h-index(S) = max h with h members of S >= h. The sequence is
    monotone non-increasing and converges to the exact coreness; a fixed
    round budget makes the recurrence oracle-unrollable, and past
    convergence extra rounds are no-ops (same idempotence argument as
    the k-truss peel). This subsumes k_core(k) for every k at once.

    Per round: one adjacency join against the (broadcast-guarded) core
    table + one per-node ranked window (partition = node, bounded by its
    degree) + a min. Lineage truncates per round. Returns (node, core).
    """
    from pyspark.sql.window import Window

    e = edges.select("src", "dst")
    e = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.distinct().persist()
    core = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("core"))
    n_nodes = core.count()
    brd = (lambda df: F.broadcast(df)) if n_nodes <= broadcast_threshold else (lambda df: df)
    for _ in range(rounds):
        nv = e.join(
            brd(core.select(F.col("node").alias("dst"), F.col("core").alias("v"))),
            "dst",
        ).select(F.col("src").alias("node"), "v")
        w = Window.partitionBy("node").orderBy(F.desc("v"))
        h = (
            nv.withColumn("rn", F.row_number().over(w))
            .select(
                "node",
                F.when(F.col("v") >= F.col("rn"), F.col("rn")).otherwise(0).alias("hh"),
            )
            .groupBy("node")
            .agg(F.max("hh").alias("h"))
        )
        core = (
            core.join(h, "node")
            .select("node", F.least("core", "h").alias("core"))
            .transform(checkpoint)
        )
    return finalize(core, e)


def coarsen(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Graph coarsening (the contraction step of multilevel partitioning,
    METIS's core loop — the role the reference fills with offline METIS
    partition files): contract each community to a supernode; parallel
    edges between communities collapse into one weighted superedge
    (weight = contracted edge count), intra-community edges become
    supernode self-weight.

    Two label joins + one groupBy — the coarsened graph is then small
    enough to iterate expensive algorithms on, and uncoarsening maps the
    results back through the same label table. Returns
    (ca, cb, weight) with ca <= cb (self rows = internal edge counts).
    """
    from jasminegraph_spark.analytics.graph_algs import canonical_undirected

    und = canonical_undirected(edges)
    la = communities.select(F.col("node").alias("a"), F.col("community").alias("comm_a"))
    lb = communities.select(F.col("node").alias("b"), F.col("community").alias("comm_b"))
    return (
        und.join(la, "a")
        .join(lb, "b")
        .groupBy(
            F.least("comm_a", "comm_b").alias("ca"),
            F.greatest("comm_a", "comm_b").alias("cb"),
        )
        .agg(F.count("*").alias("weight"))
    )


def _directed_hashmin(
    adj: DataFrame,
    nodes: DataFrame,
    max_iterations: int,
) -> DataFrame:
    """Hash-min propagation along directed adjacency (u, v): converges to
    lab(u) = min node id in {u} ∪ {all v transitively reachable via adj}.
    Same partial-aggregated groupBy round as connected_components; rounds
    bounded by the longest shortest-path to each node's minimum.

    Raises RuntimeError if ``max_iterations`` exhausts while labels are
    still changing — a partial fwd/bwd minimum would otherwise settle
    wrong SCCs upstream (e.g. a directed cycle longer than ~2× the budget
    silently decomposing into split components)."""
    labels = nodes.withColumn("lab", F.col("node"))
    changed = 0
    for _ in range(max_iterations):
        nbr_min = (
            adj.join(labels, adj.v == labels.node)
            .select(F.col("u").alias("node"), F.col("lab").alias("cand"))
            .groupBy("node")
            .agg(F.min("cand").alias("nbr_min"))
        )
        cand = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.col("lab").alias("old"),
                F.least(F.col("lab"), F.coalesce("nbr_min", F.col("lab"))).alias("lab"),
            )
            .transform(checkpoint)
        )
        changed = cand.filter(F.col("lab") != F.col("old")).count()
        labels = cand.select("node", "lab")
        if changed == 0:
            break
    else:
        if changed:
            raise RuntimeError(
                f"directed hash-min did not converge within "
                f"max_propagation={max_iterations} rounds ({changed} labels "
                "still changing); raise max_propagation — settling on a "
                "partial minimum would produce wrong SCCs"
            )
    return labels


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_outer: int = 15,
    max_propagation: int = 40,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph. Returns
    (node, component) with component = min node id in the SCC — the
    directed twin of :func:`connected_components` (§2.3 WCC family; the
    reference ships no SCC, but it is the standard companion analytic to
    WCC/k-core on any property-graph engine).

    Algorithm: trim + min-pivot settling (the MapReduce/Pregel SCC of
    Salihoglu & Widom, "Optimizing Graph Algorithms on Pregel-like
    Systems", VLDB 2014 — FW-BW-Trim family):

    * TRIM — a node with no in-edges or no out-edges in the remaining
      graph is its own singleton SCC (one anti-join pass per round).
    * PIVOT SETTLE — fwd(v) = min id reachable FROM v, bwd(v) = min id
      that can REACH v, each via directed hash-min propagation. Where
      fwd(v) == bwd(v) = m, v and m reach each other, so v ∈ SCC(m);
      all such nodes settle at once (every locally-minimal pivot's SCC
      per outer round, not just the global minimum's).
    * Settled nodes and their edges are removed; repeat.

    Scale: every pass is an equi-join/groupBy over the shrinking edge
    frame (lineage truncated per round, caches released). Outer rounds
    = depth of the SCC condensation between local-min pivots — small on
    real-world graphs (the same regime where hash-min WCC is fine); the
    worst case (a long DAG chain) degrades to O(n) rounds, which
    max_outer guards — the loop raises rather than returning a partial
    labelling.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(checkpoint)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(checkpoint)
    )
    settled_parts: list[DataFrame] = []
    for _ in range(max_outer):
        if not nodes.take(1):
            break
        # -- trim: sources and sinks of the remaining graph are singletons
        has_out = e.select(F.col("src").alias("node")).distinct()
        has_in = e.select(F.col("dst").alias("node")).distinct()
        trimmed = (
            nodes.join(has_out, "node", "left_semi")
            .join(has_in, "node", "left_semi")
            .transform(checkpoint)
        )  # nodes that survive the trim (have both an in- and an out-edge)
        singles = nodes.join(trimmed, "node", "left_anti")
        settled_parts.append(
            checkpoint(singles.select("node", F.col("node").alias("component")))
        )
        nodes = trimmed
        if not nodes.take(1):
            break
        e = (
            e.join(nodes.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(nodes.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .transform(checkpoint)
        )
        # -- pivot settle on the trimmed core
        fwd = _directed_hashmin(
            e.select(F.col("src").alias("u"), F.col("dst").alias("v")),
            nodes,
            max_propagation,
        )
        bwd = _directed_hashmin(
            e.select(F.col("dst").alias("u"), F.col("src").alias("v")),
            nodes,
            max_propagation,
        )
        settled = (
            fwd.withColumnRenamed("lab", "f")
            .join(bwd.withColumnRenamed("lab", "b"), "node")
            .filter(F.col("f") == F.col("b"))
            .select("node", F.col("f").alias("component"))
            .transform(checkpoint)
        )
        settled_parts.append(settled)
        nodes = nodes.join(settled, "node", "left_anti").transform(checkpoint)
        e = (
            e.join(settled.select(F.col("node").alias("src")), "src", "left_anti")
            .join(settled.select(F.col("node").alias("dst")), "dst", "left_anti")
            .transform(checkpoint)
        )
    else:
        if nodes.take(1):
            raise RuntimeError(
                f"SCC did not converge within max_outer={max_outer} rounds; "
                "raise max_outer (condensation depth exceeds the budget)"
            )
    if not settled_parts:  # empty edge frame → no nodes, correctly-typed empty
        return nodes.select("node", F.col("node").alias("component")).limit(0)
    out = settled_parts[0]
    for part in settled_parts[1:]:
        out = out.unionAll(part)
    return checkpoint(out)


def minimum_spanning_forest(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str = "weight",
    max_rounds: int = 25,
) -> DataFrame:
    """Minimum spanning forest via distributed Borůvka with graph
    CONTRACTION — the classic O(log n)-round parallel MSF (each round
    every component picks its minimum incident edge, so component count
    at least halves; no sequential union-find anywhere). Returns the
    chosen tree edges as (a, b, weight) with a < b; per
    weakly-connected component the result is its unique minimum
    spanning tree under the (weight, a, b) total order (lexicographic
    tie-break ⇒ unique MSF, engine-reproducible with duplicate
    weights).

    Round shape: a struct-min groupBy per endpoint over the CONTRACTED
    edge frame (original endpoints ride along for output), then the
    chosen-edge pointer graph — whose only cycles are mutual-choice
    2-cycles under a total order — contracts by min-root 2-cycle
    breaking + pointer doubling (O(log depth) joins on the
    |components|-row table). The edge frame itself is re-keyed to the
    merged components and parallel contracted edges collapse to their
    minimum, so it SHRINKS geometrically — each round is strictly
    cheaper than the last. One eager checkpoint per frame per round
    with the previous round released immediately (bounded block-store
    footprint, the 100 TB requirement for an O(log n)-round loop).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
            F.col(weight_col).alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))  # parallel edges: only the cheapest matters
        .select("a", "b", "w", F.col("a").alias("oa"), F.col("b").alias("ob"))
        .transform(checkpoint_fresh_stats)
    )
    forest_parts: list[DataFrame] = []
    for _ in range(max_rounds):
        if not e.take(1):
            break
        pick = F.struct("w", "oa", "ob", "a", "b")
        cand = e.select(F.col("a").alias("c"), pick.alias("pick")).unionAll(
            e.select(F.col("b").alias("c"), pick.alias("pick"))
        )
        chosen = cand.groupBy("c").agg(F.min("pick").alias("pick")).transform(checkpoint_fresh_stats)
        sel = chosen.select("pick.w", "pick.oa", "pick.ob").distinct()
        forest_parts.append(
            checkpoint_fresh_stats(
                sel.select(
                    F.col("oa").alias("a"), F.col("ob").alias("b"), F.col("w").alias("weight")
                )
            )
        )
        # contraction: each component points across its chosen edge;
        # under the total order the only cycles are mutual 2-cycles
        par = chosen.select(
            "c",
            F.when(F.col("pick.a") == F.col("c"), F.col("pick.b"))
            .otherwise(F.col("pick.a"))
            .alias("p"),
        )
        pp = (
            par.alias("x")
            .join(par.alias("y"), F.col("x.p") == F.col("y.c"))
            .select(
                F.col("x.c").alias("c"), F.col("x.p").alias("p"), F.col("y.p").alias("p2")
            )
        )
        par = pp.select(
            "c",
            F.when((F.col("p2") == F.col("c")) & (F.col("p") > F.col("c")), F.col("c"))
            .otherwise(F.col("p"))
            .alias("p"),
        ).transform(checkpoint_fresh_stats)
        while True:  # pointer doubling to the root (log depth rounds)
            nxt = (
                par.alias("x")
                .join(par.alias("y"), F.col("x.p") == F.col("y.c"))
                .select(
                    F.col("x.c").alias("c"),
                    F.col("x.p").alias("p"),
                    F.col("y.p").alias("p2"),
                )
                .transform(checkpoint_fresh_stats)
            )
            changed = nxt.filter(F.col("p2") != F.col("p")).count()
            par = nxt.select("c", F.col("p2").alias("p"))
            if changed == 0:
                break
        # re-key the edge frame to merged components; contracted parallel
        # edges collapse to their minimum (original endpoints ride along)
        pa = par.select(F.col("c").alias("a"), F.col("p").alias("na"))
        pb = par.select(F.col("c").alias("b"), F.col("p").alias("nb"))
        e = (
            e.join(pa, "a")
            .join(pb, "b")
            .filter(F.col("na") != F.col("nb"))
            .groupBy(
                F.least("na", "nb").alias("a"), F.greatest("na", "nb").alias("b")
            )
            .agg(F.min(F.struct("w", "oa", "ob")).alias("m"))
            .select("a", "b", F.col("m.w").alias("w"), "m.oa", "m.ob")
            .transform(checkpoint_fresh_stats)
        )
    if not forest_parts:
        return e.select(
            F.col("oa").alias("a"), F.col("ob").alias("b"), F.col("w").alias("weight")
        ).limit(0)
    out = forest_parts[0]
    for part in forest_parts[1:]:
        out = out.unionAll(part)
    return checkpoint_fresh_stats(out)


def maximal_independent_set(
    edges: DataFrame,
    max_rounds: int = 30,
) -> DataFrame:
    """Maximal independent set via Luby's algorithm (Luby, SIAM J.
    Comput. 1986 — THE classic O(log n)-round parallel MIS primitive,
    the basis of distributed coloring/scheduling), made DETERMINISTIC:
    node priority = md5 of the node id, so both engines and every
    run/partitioning pick the identical set (md5 keys also make the
    "random" priorities skew-free). Returns the MIS as (node,) rows —
    no two adjacent, every excluded node has a selected neighbor.

    Round: a node joins the MIS when its priority beats the minimum
    priority of its REMAINING neighbors (isolated remainders always
    join); winners and their neighbors leave. Each round is one
    partial-agg groupBy-min + two anti-joins over the shrinking
    adjacency — expected O(log n) rounds, lineage truncated per round.
    """
    und = canonical_undirected(edges)
    adj = (
        und.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(und.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .transform(checkpoint)
    )
    prio = lambda c: F.md5(F.col(c).cast("string"))  # noqa: E731
    remaining = adj.select(F.col("u").alias("node")).distinct().transform(checkpoint)
    mis_parts: list[DataFrame] = []
    exhausted = True
    for _ in range(max_rounds):
        if not remaining.take(1):
            exhausted = False
            break
        radj = (
            adj.join(remaining.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(remaining.withColumnRenamed("node", "v"), "v", "left_semi")
            .transform(checkpoint)
        )
        nbr_min = radj.groupBy("u").agg(F.min(prio("v")).alias("m"))
        winners = (
            remaining.join(nbr_min, remaining.node == nbr_min.u, "left")
            .filter(prio("node") < F.coalesce(F.col("m"), F.lit("g")))  # hex < 'g'
            .select("node")
            .transform(checkpoint)
        )
        mis_parts.append(winners)
        losers = (
            radj.join(winners.withColumnRenamed("node", "v"), "v", "left_semi")
            .select(F.col("u").alias("node"))
            .distinct()
        )
        remaining = (
            remaining.join(winners, "node", "left_anti")
            .join(losers, "node", "left_anti")
            .transform(checkpoint)
        )
    if exhausted and remaining.take(1):
        raise RuntimeError(
            f"MIS did not cover all nodes within max_rounds={max_rounds}; "
            "raise max_rounds — returning now would yield a non-MAXIMAL "
            "independent set"
        )
    if not mis_parts:  # empty edge frame → no nodes, correctly-typed empty
        return remaining.limit(0)
    out = mis_parts[0]
    for part in mis_parts[1:]:
        out = out.unionAll(part)
    return checkpoint(out)


def greedy_coloring(
    edges: DataFrame,
    max_colors: int = 30,
) -> DataFrame:
    """Distributed greedy graph coloring by ITERATED MIS — Luby's
    classic application (each round's maximal independent set takes the
    next color and leaves the graph): a proper coloring in ≤ Δ+1 colors,
    deterministic end-to-end because the MIS priorities are md5 hashes.
    Coloring is the conflict-partitioning primitive (parallel mutation
    batches, schedule slots); the reference has no coloring command —
    a bonus primitive on the same deterministic-MIS foundation.

    Round c: nodes with NO surviving uncolored neighbor are isolated —
    every neighbor wears a color < c, so c is safe for them; the MIS of
    the surviving subgraph joins them. Uncolored nodes and surviving
    edges then shrink by a left-anti / left-semi pass. Raises if
    ``max_colors`` exhausts with nodes remaining (a too-small cap must
    not yield a silent partial coloring). Returns (node, color)."""
    from jasminegraph_spark.cache import checkpoint

    und = canonical_undirected(edges)
    uncolored = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .distinct()
        .transform(checkpoint)
    )
    remaining = und
    parts: list[DataFrame] = []
    for color in range(max_colors):
        if not uncolored.take(1):
            break
        touched = (
            remaining.select(F.col("a").alias("node"))
            .unionAll(remaining.select(F.col("b").alias("node")))
            .distinct()
        )
        isolated = uncolored.join(touched, "node", "left_anti")
        if remaining.take(1):
            mis = maximal_independent_set(
                remaining.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            )
            colored = mis.select("node").unionAll(isolated).transform(checkpoint)
        else:
            colored = isolated.transform(checkpoint)
        parts.append(colored.select("node", F.lit(color).alias("color")))
        uncolored = uncolored.join(colored, "node", "left_anti").transform(checkpoint)
        keep_a = uncolored.withColumnRenamed("node", "a")
        keep_b = uncolored.withColumnRenamed("node", "b")
        remaining = (
            remaining.join(keep_a, "a", "left_semi")
            .join(keep_b, "b", "left_semi")
            .select("a", "b")
            .transform(checkpoint)
        )
    else:
        if uncolored.take(1):
            raise RuntimeError(
                f"coloring did not finish within max_colors={max_colors}; "
                "raise the cap (Delta+1 always suffices)"
            )
    if not parts:  # empty edge frame → no nodes, correctly-typed empty
        return uncolored.select("node", F.lit(0).alias("color")).limit(0)
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionAll(p_)
    return out
