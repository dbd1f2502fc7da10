"""Graph analytics commands as DataFrame jobs.

Reference surface (frontend dispatch src/frontend/JasmineGraphFrontEnd.cpp:
230-346): trian, pgrnk, idegree/odegree, egonet, vcnt/ecnt, top_k_page_rank.

All functions take a bare edge DataFrame with ``src``/``dst`` columns (any
orderable type); ``trian``, ``pgrnk`` and ``egonet`` also take a resident
:class:`~jasminegraph_spark.topology.Topology` (the engine passes the
catalog's), which saves them their dedup, degree and repartition jobs.
The reference's local/central/duplicate store dance —
per-partition counts plus master-side aggregation over partition
combinations (TriangleCountExecutor.cpp:1113-1260) — disappears: one
shuffle co-locates everything.

Scale notes:
 * triangle_count orders endpoints by (degree, id) before the two-way join
   — the standard compact-forward technique: every wedge is enumerated at
   its lowest-degree vertex, which bounds join fan-out on skewed (power-law)
   graphs. This matters far more at 100 TB than at test scale.
 * undirected, unweighted pagerank collects the canonical half of the
   resident adjacency in one Spark job and runs the power iteration on
   the driver in numpy, while the topology holds at most
   topology.DRIVER_PAIRS undirected pairs: no checkpoint, no Python
   worker. Past that bound, and for directed or weighted pagerank, the
   iterations are Spark rounds that keep ranks and out-degrees
   co-partitioned on the join key and truncate lineage with
   localCheckpoint to stop plan growth.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from jasminegraph_spark.cache import checkpoint, finalize
from jasminegraph_spark.topology import Topology, topology_of


def canonical_undirected(edges: DataFrame, assume_canonical: bool = False) -> DataFrame:
    """Distinct undirected edges as ordered pairs (a < b); drops self-loops.
    The canonical first step of triangle counting (reference merges local +
    central + duplicate adjacency first, Triangles.cpp:33-118).

    ``assume_canonical=True`` (r13) asserts the input is ALREADY an a<b
    distinct self-loop-free edge set (true for co_order_edges and any
    output of this function) and skips the redundant |E|-row
    least/greatest + distinct exchange — a pure rename. Operators expose
    the same flag and forward it here; the skip never changes semantics,
    it only avoids re-deriving what the caller guarantees."""
    if assume_canonical:
        return edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    a = F.least("src", "dst").alias("a")
    b = F.greatest("src", "dst").alias("b")
    return edges.select(a, b).filter(F.col("a") != F.col("b")).distinct()


def _degree_ordered(und: DataFrame) -> DataFrame:
    """Re-orient each undirected edge from lower to higher (degree, id) —
    makes the subsequent wedge join enumerate each triangle exactly once
    with fan-out bounded by the *smaller* endpoint degree (skew armor).
    Takes the canonical undirected edge set (compute + persist it once:
    the caller reuses it for the closing-edge join)."""
    both = und.select(F.col("a").alias("v"), F.col("b").alias("w")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("w"))
    )
    deg = both.groupBy("v").agg(F.count("*").alias("deg"))
    d1 = deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "deg_a")
    d2 = deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "deg_b")
    ranked = und.join(d1, "a").join(d2, "b")
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return ranked.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )


def triangle_list(edges: DataFrame) -> DataFrame:
    """All triangles as (a < b < c) rows. Mirrors the reference's exact
    enumeration (Triangles.cpp:120-230: degree-ordered common-neighbor
    check; master dedups 'v1,v2,v3' strings, TriangleCountExecutor.cpp:
    1242-1252 — canonical ordering here makes dedup unnecessary)."""
    und = canonical_undirected(edges).persist()
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y")  # x<y and y<z by construction, so x<y<z
    closing = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = wedges.join(closing, ["x", "z"]).select(
        F.col("x").alias("a"), F.col("y").alias("b"), F.col("z").alias("c")
    )
    return finalize(tri, und)


def triangle_count_df(edges, assume_canonical: bool = False) -> DataFrame:
    """`trian` as a one-row DataFrame (n_triangles): degree-ordered DAG +
    per-edge sorted-neighbor intersection.

    For every DAG edge (u, v), |N⁺(u) ∩ N⁺(v)| counts the triangles
    whose source vertex is u — summed over edges this is the exact
    global count (each triangle has exactly ONE DAG-source vertex).
    Compared to materializing the wedge rows and joining the closing
    edge (the r1-r11 plan, still used by :func:`triangle_list` which
    must emit the triangles), the shuffle moves |E| edge rows + |E|
    total adjacency entries instead of Σ min-deg wedge candidates —
    measured 0.5× at sf0.1 (3.9 vs 7.4 s) and strictly less exchange
    volume at any scale. Skew armor is the degree orientation itself:
    DAG out-degree is O(√E) on any graph, so no collect_list state or
    intersection input explodes on hubs. The adjacency side stays a
    SHUFFLED hash join — broadcasting the packed arrays measures slower
    even when they fit (driver collect dominates; same result as the
    streaming tracker's A/B, ingest.py).

    Runs on a :class:`~jasminegraph_spark.topology.Topology`: the
    orientation is a filter on its stored degrees (a self-loop passes
    neither side of it), and the out-neighbor arrays aggregate on the
    key the topology is already partitioned by. ``edges`` is either the
    catalog's resident topology or an edge DataFrame, which gets a
    temporary one released with the result. ``assume_canonical=True``
    (r13) asserts the edge DataFrame is already a<b distinct and
    self-loop-free, so the temporary topology skips its dedup."""
    topo, owned = topology_of(edges, distinct=not assume_canonical)
    lower_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    ordered = topo.adj.filter(lower_first).select(F.col("u").alias("lo"), F.col("v").alias("hi"))
    # not persisted: both array joins read nbr, but it aggregates the
    # resident topology in place (no exchange), so running it twice is
    # one cheap pass each, while a persist costs its own build job
    # (measured 7 → 5 jobs per call, same latency, on a 1k-vertex R-MAT)
    nbr = ordered.groupBy("lo").agg(F.collect_list("hi").alias("ns"))
    j = ordered.join(
        nbr.select(F.col("lo").alias("u"), F.col("ns").alias("ns_u")),
        ordered["lo"] == F.col("u"),
    ).join(
        # left: a DAG sink (hi with no out-neighbors) closes no wedge
        nbr.select(F.col("lo").alias("v"), F.col("ns").alias("ns_v")),
        ordered["hi"] == F.col("v"),
        "left",
    )
    # ns_v is NULL on DAG-sink edges (the left join above); coalesce it
    # to an empty array BEFORE the intersection so the count is 0
    # independent of spark.sql.legacy.sizeOfNull (with that conf set,
    # size(NULL) is -1 — not NULL — and an outer coalesce never fires,
    # subtracting 1 per sink edge; ADVICE r12)
    n = j.select(
        F.size(
            F.array_intersect("ns_u", F.coalesce("ns_v", F.array()))
        ).alias("c")
    ).agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_triangles"))
    return finalize(n, *owned)


def triangle_count(edges) -> int:
    """`trian` — exact global triangle count (scalar); ``edges`` as in
    :func:`triangle_count_df`."""
    return triangle_count_df(edges).first()["n_triangles"]


def _raw_contributions(
    edges: DataFrame,
    undirected: bool,
    weight_col: str | None,
    dedup_edges: bool,
    broadcast_threshold: int,
    iterations: int,
):
    """pgrnk's setup straight from an edge DataFrame, for the directed and
    weighted variants a Topology cannot carry. Returns (contrib_base,
    nodes, n_total, caches): the (src, dst, out_deg[, __w]) contribution
    edges, persisted and partitioned for the iterations, the vertex set,
    its size and every frame the caller must release."""
    weighted = weight_col is not None
    caches = []
    if not weighted:
        # directed unweighted: 2-column binary adjacency and a plain
        # count out-degree — no weight column rides the per-iteration plan
        e = edges.select("src", "dst")
        # persisted even without the dedup: e materializes at least twice
        # below (out_deg + contrib_base), and without it the full
        # upstream edge pipeline re-executes per reference (ADVICE r12)
        e = e.distinct().persist() if dedup_edges else e.persist()
        caches.append(e)
    else:
        # weighted pgrnk: mass splits ∝ edge weight instead of 1/out_deg.
        # Parallel edges COMBINE by weight sum (groupBy, not distinct —
        # distinct would keep two (u,v) rows with different weights and
        # silently double-count their mass)
        e = edges.select("src", "dst", F.col(weight_col).cast("double").alias("__w"))
        if undirected:
            e = e.unionAll(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "__w")
            )
        if dedup_edges:
            e = e.groupBy("src", "dst").agg(F.sum("__w").alias("__w")).persist()
        else:
            # still persisted: weighted projections (co_order_weighted)
            # are NOT session-memoized like the unweighted co-order
            # cache, and e materializes twice below (out_deg count +
            # contrib_base build) — without this the whole upstream
            # pipeline runs twice (r12 review)
            e = e.persist()
        caches.append(e)
    out_deg = (
        e.groupBy("src").agg(F.sum("__w").alias("out_deg"))
        if weighted
        else e.groupBy("src").agg(F.count("*").cast("double").alias("out_deg"))
    )
    if undirected:
        # symmetrized ⇒ every node has an out-edge, so the out-degree
        # key set IS the vertex set: no union + distinct over 2|E|
        # endpoint rows (r12; persisted — it seeds the rank vector)
        out_deg = out_deg.persist()
        caches.append(out_deg)
        nodes = out_deg.select(F.col("src").alias("node"))
        n_total = out_deg.count()
    else:
        nodes = e.select(F.col("src").alias("node")).union(e.select("dst")).distinct().persist()
        caches.append(nodes)
        n_total = nodes.count()
    # contribution edges carry out_deg along; persisted once, reused each
    # iter. Pre-partition by the key every iteration re-uses (r13, guide
    # §2.4 "share one exchange"): under the broadcast-rank regime each
    # iteration's only exchange is the groupBy(dst); hash-partitioning the
    # persisted frame by dst once makes that aggregation exchange-free
    # every round (ProjectExec's alias-aware partitioning carries dst →
    # node through the select). Past the broadcast threshold the
    # per-iteration join shuffles instead, so partition by the JOIN key
    # (src) and the ranks side alone re-shuffles per round. One setup
    # exchange traded for one exchange per iteration at any scale.
    contrib_base = (
        e.join(out_deg, "src")
        .repartition("dst" if n_total <= broadcast_threshold else "src")
        .persist()
    )
    caches.append(contrib_base)
    # materialize NOW: an un-materialized cache wraps an AdaptiveSparkPlan
    # whose final partitioning is unknown at planning time, so every
    # iteration planned against it would re-insert the ENSURE_REQUIREMENTS
    # exchange this repartition exists to remove (measured: 1 exchange per
    # iteration planned lazily, 0 once the cache is live). One cheap count
    # over the persisted inputs buys exchange-free aggregation each round.
    # r14 (ADVICE r13 #5): with a single iteration there are no repeat
    # consumers to amortize the setup job — skip it (the one round's
    # action materializes the cache itself).
    if iterations > 1:
        contrib_base.count()
    return contrib_base, nodes, n_total, caches


def pagerank(
    edges,
    alpha: float = 0.85,
    iterations: int = 10,
    undirected: bool = False,
    broadcast_threshold: int = 10_000_000,
    sources: list | None = None,
    weight_col: str | None = None,
    dedup_edges: bool = True,
) -> DataFrame:
    """`pgrnk` (JasmineGraphInstanceService.cpp:1650-1816; defaults α=0.85,
    10 iterations — FrontEndProtocol.h:112-113).

    Returns (node, rank). Vertex set = nodes incident to an edge (the
    reference iterates its adjacency stores the same way). No dangling-mass
    redistribution: on a symmetrized graph every vertex has out-degree ≥ 1,
    matching the reference's exchange of world-to-local contributions.

    r_{k+1}(v) = (1-α)·p(v) + α · Σ_{u→v} r_k(u)/out(u)

    ``sources`` switches the restart vector p from uniform 1/N (classic
    PageRank) to 1/|S| over the seed set (personalized PageRank / random
    walk with restart) — proximity-to-the-seeds scores, the query behind
    "related nodes" recommendation. Same loop, same broadcast-vs-shuffle
    size guard; the restart vector is a literal IN expression (seeds are
    a short list, never a table), so the per-iteration plan is unchanged.

    ``weight_col`` switches the mass split from uniform 1/out_deg to
    edge-weight-proportional (weighted PageRank): contribution =
    r_k(u)·w(u,v)/Σ_out w(u) — same loop, out-degree becomes out-weight.
    Parallel (u, v) edges combine by weight SUM (a multigraph carries
    their total mass); in the unweighted path distinct collapses them to
    binary adjacency.

    Undirected unweighted pgrnk runs on a
    :class:`~jasminegraph_spark.topology.Topology` — ``edges`` is the
    catalog's resident one, or an edge DataFrame that gets a temporary
    one released with the result. Each symmetric row (u, v, deg_u, deg_v)
    is the contribution edge v → u with out-degree deg_v. While the
    topology holds at most
    :data:`~jasminegraph_spark.topology.DRIVER_PAIRS` undirected pairs,
    the ranks come from one Spark job: the canonical half is collected
    once as Arrow and iterated on the driver
    (:func:`_pagerank_on_driver`), and the result is a local frame that
    needs no checkpoint. Past the bound the iterations are Spark rounds
    over the rows, already partitioned by u, the key every iteration
    aggregates on, so there is no setup job at all. Symmetrization gives
    every node an out-edge and an in-edge, so the contribution aggregate
    covers the whole vertex set and the per-iteration dangling-mass left
    join folds into the aggregate itself (r12). Directed and weighted
    pgrnk build their contribution edges from the edge DataFrame
    (:func:`_raw_contributions`) and always run as rounds.
    ``broadcast_threshold`` binds only the rounds.

    ``dedup_edges=False`` (r12) asserts the caller's edge set already
    carries no duplicate (src, dst) rows — true for every canonical
    a<b distinct projection (co_order_edges), whose symmetrized union
    cannot collide either — and skips the dedup.
    """
    weighted = weight_col is not None
    if isinstance(edges, Topology) or (undirected and not weighted):
        if weighted:
            raise ValueError("a Topology carries no edge weights")
        undirected = True
        topo, owned = topology_of(edges, distinct=dedup_edges)
        if topo.on_driver:
            try:
                return _pagerank_on_driver(topo, alpha, iterations, sources)
            finally:
                for df in owned:
                    df.unpersist()
        caches = list(owned)
        n_total = topo.n_vertices
        nodes = topo.adj.select(F.col("u").alias("node")).distinct()
        contrib_base = topo.adj.select(
            F.col("v").alias("src"),
            F.col("u").alias("dst"),
            F.col("deg_v").cast("double").alias("out_deg"),
        )
        if n_total > broadcast_threshold:
            # shuffled rank joins: partition by the join key instead, as
            # the raw-edge setup does, and materialize before the loop
            contrib_base = contrib_base.repartition("src").persist()
            caches.append(contrib_base)
            contrib_base.count()
    else:
        contrib_base, nodes, n_total, caches = _raw_contributions(
            edges, undirected, weight_col, dedup_edges, broadcast_threshold, iterations
        )
    if sources is not None:
        # restart mass concentrated on the seeds (each gets 1/|S|); a
        # seed absent from the vertex set simply contributes no mass
        restart = F.when(F.col("node").isin(sources), F.lit(1.0 / len(sources))).otherwise(
            F.lit(0.0)
        )
    else:
        restart = F.lit(1.0 / n_total)
    ranks = nodes.withColumn("rank", restart)
    # the rank table is |V| rows vs |E| contributions: broadcast it while
    # it fits so the big persisted edge frame is never re-shuffled per
    # iteration; past broadcast_threshold vertices fall back to a
    # co-partitioned shuffle join (exercised in tests via threshold=0)
    brd = (lambda df: F.broadcast(df)) if n_total <= broadcast_threshold else (lambda df: df)
    contrib_expr = (
        (F.col("rank") * F.col("__w") / F.col("out_deg"))
        if weighted
        else (F.col("rank") / F.col("out_deg"))
    )
    for i in range(iterations):
        contribs = (
            contrib_base.join(brd(ranks), contrib_base["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                contrib_expr.alias("c"),
            )
            .groupBy("node")
        )
        if undirected:
            # symmetrized ⇒ every node also has an IN-edge, so the
            # contribution aggregate already covers the whole vertex
            # set: fold the new rank into the aggregate and drop the
            # per-iteration dangling-mass left join (r12). The restart
            # term may reference the grouping column (personalized).
            ranks = contribs.agg(
                (F.lit(1.0 - alpha) * restart + F.lit(alpha) * F.sum("c")).alias("rank")
            )
        else:
            ranks = nodes.join(
                contribs.agg(F.sum("c").alias("mass")), "node", "left"
            ).select(
                "node",
                (
                    F.lit(1.0 - alpha) * restart
                    + F.lit(alpha) * F.coalesce("mass", F.lit(0.0))
                ).alias("rank"),
            )
        if (i + 1) % 5 == 0 and (i + 1) < iterations:
            # truncate lineage so the plan doesn't grow unboundedly; the
            # final iteration skips it (r13) — finalize() checkpoints the
            # result anyway, so a loop-end checkpoint would materialize
            # the same ranks twice back to back
            ranks = ranks.transform(checkpoint)
    # final ranks are checkpointed; the edge/degree caches are released so
    # repeated engine calls don't pin storage
    return finalize(ranks, *caches)


def _pagerank_on_driver(
    topo: Topology, alpha: float, iterations: int, sources: list | None
) -> DataFrame:
    """(node, rank) from one Arrow collect of the canonical half of the
    topology, iterated in numpy as the rounds iterate: each adjacency row
    (u, v) is the contribution edge v → u with out-degree deg_v. The half
    is mirrored back to the full adjacency, a self-loop once."""
    ids, u, v = topo.collect_pairs()
    cross = u != v
    dst = np.concatenate([u, v[cross]])
    src = np.concatenate([v, u[cross]])
    n = len(ids)
    deg = np.bincount(dst, minlength=n)
    spark, id_type = topo.adj.sparkSession, topo.adj.schema["u"].dataType
    if sources is None:
        restart = np.full(n, 1.0 / max(n, 1))
    else:
        restart = np.where(_isin(spark, ids, id_type, sources), 1.0 / len(sources), 0.0)
    rank = restart
    for _ in range(iterations):
        mass = np.bincount(dst, weights=(rank / deg)[src], minlength=n)
        rank = (1.0 - alpha) * restart + alpha * mass
    schema = StructType([StructField("node", id_type), StructField("rank", DoubleType())])
    return spark.createDataFrame(pa.table({"node": ids, "rank": rank}), schema)


def _isin(spark, ids: pa.Array, id_type, values: list) -> np.ndarray:
    """Which ``ids`` Spark's ``isin(values)`` matches, so seeds of another
    type coerce as they do in the rounds (under ANSI, ``"01"`` matches the
    long id 1 and the long 1 matches the string id ``"01"``). Spark folds
    the filter over the local frame while planning: no job."""
    nodes = spark.createDataFrame(pa.table({"node": ids}), StructType([StructField("node", id_type)]))
    hits = [r[0] for r in nodes.filter(F.col("node").isin(values)).collect()]
    return pc.is_in(ids, value_set=pa.array(hits, ids.type)).to_numpy(zero_copy_only=False)


def personalized_pagerank(edges, sources: list, **kw) -> DataFrame:
    """Random walk with restart from ``sources`` (the `pgrnk` loop with a
    seed-concentrated restart vector). Scores are proximity to the seed
    set; nodes unreachable from the seeds converge to exactly 0 rather
    than the uniform floor."""
    if not sources:
        raise ValueError("personalized_pagerank needs a non-empty seed list")
    return pagerank(edges, sources=sources, **kw)


def top_k_pagerank(edges, k: int = 10, **kw) -> DataFrame:
    """`top_k_page_rank` (JasmineGraphInstanceService.cpp:2593-2653) —
    TopK is a per-partition limit + single merge, not a full sort."""
    return pagerank(edges, **kw).orderBy(F.desc("rank"), F.asc("node")).limit(k)


def degree_distribution(edges: DataFrame, direction: str = "in") -> DataFrame:
    """`idegree`/`odegree` — full degree distribution
    (JasmineGraphInstanceService.cpp:2305-2404). Returns (degree, n_nodes):
    two partial-aggregated shuffles, no driver materialization (the
    reference writes per-partition TSVs and merges at master)."""
    key = "dst" if direction == "in" else "src"
    per_node = edges.groupBy(F.col(key).alias("node")).agg(F.count("*").alias("degree"))
    return per_node.groupBy("degree").agg(F.count("*").alias("n_nodes"))


def egonet(edges, vertex, undirected: bool = True) -> DataFrame:
    """`egonet` (JasmineGraphInstanceService.cpp:1404-1500): the induced
    subgraph on {v} ∪ N(v), returned as its edge list (a, b).

    Neighbor set is a broadcast-able point-filtered frame, so the induced-
    edge join is two broadcast semi-joins — no full shuffle of the edge
    table at scale. The undirected egonet reads a
    :class:`~jasminegraph_spark.topology.Topology` (``edges`` is the
    catalog's resident one, or an edge DataFrame that gets a temporary
    one): its u<v rows are the canonical edges, its rows with u = vertex
    give the neighbor set, and neither needs a distinct shuffle."""
    if not undirected:
        e = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        ego = e.filter((F.col("a") == vertex) | (F.col("b") == vertex)).select(
            F.explode(F.array(F.col("a"), F.col("b"))).alias("node")
        )
        owned = ()
    else:
        topo, owned = topology_of(edges)
        e = topo.adj.filter(F.col("u") < F.col("v")).select(
            F.col("u").alias("a"), F.col("v").alias("b")
        )
        # the vertex itself is in the set whenever it has any edge
        ego = topo.adj.filter(F.col("u") == vertex).select(
            F.explode(F.array(F.col("u"), F.col("v"))).alias("node")
        )
    # a semi-join ignores duplicates on its build side: no distinct
    out = (
        e.join(F.broadcast(ego.withColumnRenamed("node", "a")), "a", "left_semi")
        .join(F.broadcast(ego.withColumnRenamed("node", "b")), "b", "left_semi")
        .select("a", "b")
    )
    # a temporary topology is released once the result is materialized;
    # over the resident one the result stays lazy
    return finalize(out, *owned) if owned else out


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Global clustering coefficient: 3·triangles / wedges, where
    wedges = Σ_v deg(v)·(deg(v)−1)/2 over the simple undirected graph.

    One-row result (n_triangles, n_wedges, global_cc). Reuses the
    degree-ordered triangle pipeline (skew-bounded wedge join); the wedge
    denominator is two partial-agg shuffles over the SAME canonical edge
    set, which is persisted once and released after both jobs. Extends the
    reference's `trian` surface (Triangles.cpp:28-118) with the
    normalized statistic its docs report around it."""
    und = canonical_undirected(edges).persist()
    both = und.select(F.col("a").alias("v")).unionAll(und.select(F.col("b").alias("v")))
    wedges = (
        both.groupBy("v")
        .agg(F.count("*").alias("deg"))
        .agg(F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("n_wedges"))
    )
    tri = triangle_count_df(und.select(F.col("a").alias("src"), F.col("b").alias("dst")))
    out = tri.join(F.broadcast(wedges)).select(
        "n_triangles",
        "n_wedges",
        F.format_string(
            "%.6f",
            F.lit(3.0) * F.col("n_triangles") / F.when(F.col("n_wedges") > 0, F.col("n_wedges")),
        ).alias("global_cc"),
    )
    return finalize(out, und)


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity (Newman 2002): Pearson correlation of endpoint
    degrees over all directed realizations of each undirected edge (both
    orientations, so the statistic is symmetric).

    One degree aggregation + two broadcast-able joins + a single corr()
    reduce — no driver materialization. Emitted %.6f (corr is a ratio of
    co-moments; cross-engine noise is ~1e-15, far below the grain)."""
    und = canonical_undirected(edges).persist()
    both = und.unionAll(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = both.groupBy("a").agg(F.count("*").alias("deg"))
    pairs = (
        both.join(deg, "a")
        .select(F.col("b").alias("v"), F.col("deg").alias("deg_src"))
        .join(deg.withColumnRenamed("a", "v").withColumnRenamed("deg", "deg_dst"), "v")
    )
    out = pairs.agg(
        F.count("*").alias("n_endpoints"),
        F.format_string("%.6f", F.corr("deg_src", "deg_dst")).alias("assortativity"),
    )
    return finalize(out, und)


def edge_support(und: DataFrame, degree_ordered: bool = False) -> DataFrame:
    """Triangle support per canonical edge (a < b): each triangle raises
    support on its three edges; one wedge join + one closing join + an
    explode-free 3-way unionAll aggregation.

    ``degree_ordered`` enumerates wedges at the lowest-degree endpoint
    (the trian skew armor for power-law graphs). MEASURED at sf0.1 on
    the near-uniform co-order graph it is a net LOSS (51 s vs 37 s for
    the 3-round truss peel: two per-round rank joins cost more than the
    wedge bound saves), so the id-ordered join is the default and the
    ordered path is the opt-in for genuinely skewed graphs — same
    negative-result policy as the CSR triangle kernel note in SCALE.md.
    """
    if degree_ordered:
        und = und.persist()
        ordered = _degree_ordered(und)
        e1 = ordered.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
        e2 = ordered.select(F.col("lo").alias("x"), F.col("hi").alias("z"))
        wedges = e1.join(e2, "x").filter(F.col("y") < F.col("z"))
        closing = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
        tri = wedges.join(closing, ["y", "z"])
        # x is the wedge center (lowest degree), not necessarily the
        # lowest id: re-canonicalize each triangle side
        sides = (
            tri.select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
            .unionAll(
                tri.select(F.least("x", "z").alias("a"), F.greatest("x", "z").alias("b"))
            )
            .unionAll(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
        )
        return sides.groupBy("a", "b").agg(F.count("*").alias("support"))
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    closing = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(closing, ["x", "z"])
    sides = (
        tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
        .unionAll(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
        .unionAll(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
    )
    return sides.groupBy("a", "b").agg(F.count("*").alias("support"))


def k_truss(edges: DataFrame, k: int = 4, max_iterations: int = 10) -> DataFrame:
    """k-truss decomposition: the maximal subgraph where every edge sits
    in >= k-2 triangles OF THE SUBGRAPH. Iterative peel — recompute
    support on the surviving edges, drop light edges, until fixpoint (or
    the round budget; the peel is idempotent past convergence, so a
    fixed-round oracle matches a converged run).

    Cohesion mining one notch stronger than k-core (every truss edge is
    embedded in k-2 local triangles, not just incident to k neighbors).
    Per round: one wedge join bounded by Σ min-endpoint-degree + two hash
    aggregations — same shape as `trian`, so the same skew armor applies;
    lineage is truncated per round and ONE count per round decides
    convergence. Returns the surviving canonical edges with their final
    support."""
    if k < 3:
        raise ValueError("k-truss needs k >= 3 (k-2 >= 1 triangle per edge)")
    cur = canonical_undirected(edges).persist()
    n_cur = cur.count()
    dropped = [cur]
    for _ in range(max_iterations):
        supp = edge_support(cur.select("a", "b"))
        keep = (
            cur.select("a", "b")
            .join(supp, ["a", "b"])
            .filter(F.col("support") >= F.lit(k - 2))
            .transform(checkpoint)
            .persist()
        )
        n_keep = keep.count()
        dropped.append(keep)
        if n_keep == n_cur:
            cur = keep
            break
        cur, n_cur = keep, n_keep
        if n_keep == 0:
            break
    out = cur.select("a", "b", "support")
    for df in dropped[:-1]:
        df.unpersist()
    return finalize(out, dropped[-1])


def random_walks(
    edges: DataFrame,
    sources: list,
    length: int = 5,
    undirected: bool = True,
) -> DataFrame:
    """DeepWalk/node2vec-style walk corpus generation with RNG-FREE
    transitions: at step t, walk s moves from its node to the neighbor u
    minimizing md5(s || ':' || t || ':' || u). The minimum of a uniform
    hash over the neighbor set IS a uniform random choice — but one that
    is a pure function of (walk, step, candidate), so any engine, run, or
    partitioning generates the identical corpus (and the whole walk
    table is oracle-checkable, unlike seeded-RNG walkers whose output
    depends on task scheduling).

    Feeds embedding trainers (the reference's GraphSAGE neighborhood
    sampling has the same shape). Per step: ONE join of the |S|-row walk
    head table against adjacency + one argmin aggregation keyed by walk —
    at 1000 executors the adjacency stays put and the tiny head table
    moves. A walk strands only at a dead end (no out-neighbors), where it
    simply stops extending.

    Returns (source, step, node) — step 0 is the source itself.
    """
    e = edges.select("src", "dst")
    if undirected:
        e = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.distinct().persist()
    spark = e.sparkSession
    from pyspark.sql import types as T

    src_type = e.schema["src"].dataType
    schema = T.StructType(
        [
            T.StructField("source", src_type),
            T.StructField("node", src_type),
            T.StructField("step", T.IntegerType()),
        ]
    )
    cur = spark.createDataFrame([(s, s, 0) for s in sources], schema)
    walks = [cur]
    for t in range(length):
        h = F.md5(F.concat_ws(":", F.col("source"), F.lit(t), F.col("dst")))
        nxt = (
            F.broadcast(cur.select("source", "node"))
            .join(e, F.col("node") == F.col("src"))
            .groupBy("source")
            .agg(F.min(F.struct(h.alias("h"), F.col("dst").alias("n"))).alias("m"))
            .select("source", F.col("m.n").alias("node"), F.lit(t + 1).alias("step"))
            .transform(checkpoint)
        )
        walks.append(nxt)
        cur = nxt
    out = walks[0]
    for w in walks[1:]:
        out = out.unionByName(w)
    return finalize(out, e)


def hits(
    edges: DataFrame,
    iterations: int = 5,
    broadcast_threshold: int = 10_000_000,
) -> DataFrame:
    """HITS hubs-and-authorities on a DIRECTED edge list: per round
    auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v), each vector
    rescaled by its MAX. Max-normalization (a standard HITS variant) is
    deliberate: an L2 norm is an order-dependent float sum that diverges
    across engines in the last ulp, while max is order-independent — the
    whole fixed-round recurrence stays engine-reproducible.

    Per round: two equi-joins of the score tables against the persisted
    edge list + two partial-agg shuffles + two 1-row max aggregates
    (broadcast back — never a driver collect). Score tables are |V| rows
    and carry the broadcast hint under the same size guard as pagerank.

    Returns (node, hub, authority); nodes with no outgoing edges have
    hub 0, no incoming edges authority 0.
    """
    e = edges.select("src", "dst").distinct().persist()
    nodes = e.select(F.col("src").alias("node")).union(e.select("dst")).distinct().persist()
    n_total = nodes.count()
    brd = (lambda df: F.broadcast(df)) if n_total <= broadcast_threshold else (lambda df: df)
    scores = nodes.select("node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority"))
    for i in range(iterations):
        auth_raw = (
            e.join(brd(scores.select("node", "hub")), e.src == F.col("node"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("a_raw"))
        )
        a_max = auth_raw.agg(F.max("a_raw").alias("m"))
        auth = auth_raw.crossJoin(F.broadcast(a_max)).select(
            "node", (F.col("a_raw") / F.col("m")).alias("authority")
        )
        hub_raw = (
            e.join(brd(auth), e.dst == F.col("node"))
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("authority").alias("h_raw"))
        )
        h_max = hub_raw.agg(F.max("h_raw").alias("m"))
        hub = hub_raw.crossJoin(F.broadcast(h_max)).select(
            "node", (F.col("h_raw") / F.col("m")).alias("hub")
        )
        scores = (
            nodes.join(hub, "node", "left")
            .join(auth, "node", "left")
            .select(
                "node",
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("authority", F.lit(0.0)).alias("authority"),
            )
            .transform(checkpoint)
        )
    return finalize(scores, e, nodes)


def square_count(edges: DataFrame) -> DataFrame:
    """4-cycle (square) census of a BIPARTITE src→dst edge list, plus the
    Robins–Alexander bipartite clustering coefficient 4·C4 / L3 — the
    bipartite analogue of the triangle-based clustering coefficient
    (bipartite graphs have no triangles at all).

        C4 = Σ_{src pairs} C(common_dsts, 2)  (each square counted once)
        L3 = Σ_{(u,v)∈E} (deg(u) − 1)(deg(v) − 1)   (3-edge paths)

    One wedge self-join keyed on the shared dst — fan-out Σ_d C(deg(d), 2)
    — followed by a pair count and a closed-form aggregation. A hot dst
    (a part in half the orders) makes its C(deg, 2) term explode; that is
    the same hub hazard as the triangle wedge join, and the same armor
    applies at scale (cap or salt the hottest dst keys; AQE splits the
    moderate ones).

    Returns one row (n_squares, n_l3_paths, robins_alexander).
    """
    e = edges.select("src", "dst").distinct().persist()
    w1 = e.select(F.col("src").alias("a"), "dst")
    w2 = e.select(F.col("src").alias("b"), "dst")
    pairs = (
        w1.join(w2, "dst")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("w"))
    )
    sq = pairs.agg(
        F.coalesce(F.sum(F.col("w") * (F.col("w") - 1) / 2), F.lit(0.0))
        .cast("long")
        .alias("n_squares")
    )
    dsrc = e.groupBy("src").agg(F.count("*").alias("ds"))
    ddst = e.groupBy("dst").agg(F.count("*").alias("dd"))
    l3 = (
        e.join(dsrc, "src")
        .join(ddst, "dst")
        .agg(
            F.coalesce(F.sum((F.col("ds") - 1) * (F.col("dd") - 1)), F.lit(0))
            .cast("long")
            .alias("n_l3_paths")
        )
    )
    out = sq.crossJoin(l3).select(
        "n_squares",
        "n_l3_paths",
        F.when(
            F.col("n_l3_paths") > 0,
            F.lit(4.0) * F.col("n_squares") / F.col("n_l3_paths"),
        )
        .otherwise(F.lit(0.0))
        .alias("robins_alexander"),
    )
    return finalize(out, e)


def walk_cooccurrence_pmi(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram co-occurrence statistics over a walk corpus (the counting
    half of DeepWalk/word2vec: walks → windowed pairs → PMI): nodes
    co-occurring within ``window`` steps on the same walk form a pair;

        pmi(a,b) = ln( c_ab · T / (c_a · c_b) )

    with T the total pair count and c_x the per-node pair-slot count.
    Composed with :func:`random_walks` the whole feature table is a pure
    function of the graph. One self-join of the walk table keyed on the
    walk id (walks are ``length``-row groups, so fan-out per walk is
    O(length·window)), two small aggregations, one broadcast of the
    1-row total. Returns (a, b, n_cooc, pmi).
    """
    # corpus frames carry a walk index (node2vec_corpus): sibling walks of
    # one source are DISTINCT sentences — key the self-join on the
    # (source, walk) COLUMN PAIR, never a string concat of the two (a
    # source id containing the separator would collide across pairs)
    keys = ["source", "walk"] if "walk" in walks.columns else ["source"]
    w1 = walks.select(*keys, F.col("step").alias("s1"), F.col("node").alias("a"))
    w2 = walks.select(*keys, F.col("step").alias("s2"), F.col("node").alias("b"))
    pairs = (
        w1.join(w2, keys)
        .filter(
            (F.col("s2") > F.col("s1")) & (F.col("s2") - F.col("s1") <= F.lit(window))
        )
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
    )
    cooc = pairs.groupBy("a", "b").agg(F.count("*").alias("n_cooc")).persist()
    node_counts = (
        cooc.select(F.col("a").alias("node"), "n_cooc")
        .unionByName(cooc.select(F.col("b").alias("node"), "n_cooc"))
        .groupBy("node")
        .agg(F.sum("n_cooc").alias("c_node"))
    )
    total = cooc.agg(F.sum("n_cooc").alias("t"))
    ca = node_counts.select(F.col("node").alias("a"), F.col("c_node").alias("c_a"))
    cb = node_counts.select(F.col("node").alias("b"), F.col("c_node").alias("c_b"))
    # node-count joins are left to AQE (the table is |nodes-in-walks|
    # rows — small for seed sets, potentially |V| for full-corpus walks)
    out = (
        cooc.join(ca, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(total))
        .select(
            "a",
            "b",
            "n_cooc",
            F.log(
                F.col("n_cooc").cast("double")
                * F.col("t")
                / (F.col("c_a") * F.col("c_b"))
            ).alias("pmi"),
        )
    )
    return finalize(out, cooc)


def node2vec_walks(
    edges: DataFrame,
    sources: list,
    length: int = 5,
    p: float = 2.0,
    q: float = 0.5,
    undirected: bool = True,
) -> DataFrame:
    """node2vec 2nd-order biased walks (Grover & Leskovec, KDD 2016)
    with RNG-FREE weighted transitions: candidate u from node v with
    previous node t gets search bias α = 1/p if u == t (return),
    1 if (t, u) is an edge (stay near), else 1/q (explore) — and the
    walk picks argmax over Efraimidis–Spirakis keys ln(h)/α, where h is
    the (0,1] md5 hash of (walk, step, candidate). The E-S key makes the
    deterministic hash choice EXACTLY a weighted random choice, so the
    whole biased corpus is a pure function of the graph — identical from
    any engine/run/partitioning and oracle-checkable, unlike seeded-RNG
    node2vec whose output depends on task scheduling.

    Per step: one broadcast join of the |S|-row head table against
    adjacency for candidates, one LEFT probe of the (prev, candidate)
    pair against the edge set for the distance-1 test, one argmax
    aggregation — the adjacency never moves. Returns
    (source, step, node); step 0 is the source.
    """
    e = edges.select("src", "dst")
    if undirected:
        e = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.distinct().persist()
    spark = e.sparkSession
    from pyspark.sql import types as T

    src_type = e.schema["src"].dataType
    schema = T.StructType(
        [
            T.StructField("source", src_type),
            T.StructField("node", src_type),
            T.StructField("prev", src_type),
        ]
    )
    cur = spark.createDataFrame([(s, s, None) for s in sources], schema)
    out_rows = [
        cur.select("source", F.lit(0).alias("step"), F.col("node"))
    ]
    back = e.select(F.col("src").alias("prev"), F.col("dst").alias("cand"), F.lit(1).alias("__near"))
    for t in range(length):
        cand = (
            F.broadcast(cur)
            .join(e, F.col("node") == F.col("src"))
            .select("source", "node", "prev", F.col("dst").alias("cand"))
        )
        cand = cand.join(back, ["prev", "cand"], "left")
        alpha = (
            F.when(F.col("prev").isNull(), F.lit(1.0))
            .when(F.col("cand") == F.col("prev"), F.lit(1.0 / p))
            .when(F.col("__near").isNotNull(), F.lit(1.0))
            .otherwise(F.lit(1.0 / q))
        )
        u = (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("source"), F.lit(t), F.col("cand"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("double")
            + F.lit(1.0)
        ) / F.lit(float(16**12))
        key = F.log(u) / alpha
        nxt = (
            cand.groupBy("source")
            .agg(
                F.max(F.struct(key.alias("k"), F.col("cand").alias("n"))).alias("m"),
                F.min("node").alias("prev_node"),
            )
            .select(
                "source",
                F.col("m.n").alias("node"),
                F.col("prev_node").alias("prev"),
            )
            .transform(checkpoint)
        )
        out_rows.append(nxt.select("source", F.lit(t + 1).alias("step"), "node"))
        cur = nxt
    out = out_rows[0]
    for w in out_rows[1:]:
        out = out.unionByName(w)
    return finalize(out, e)


def node2vec_corpus(
    edges: DataFrame,
    sources: DataFrame | None = None,
    n_walks: int = 2,
    length: int = 5,
    p: float = 2.0,
    q: float = 0.5,
    undirected: bool = True,
    hash_fn: str = "md5",
) -> DataFrame:
    """Full node2vec WALK CORPUS: ``n_walks`` biased walks from every
    source — sourced from a TABLE (``sources`` with a ``node`` column),
    defaulting to EVERY vertex of the graph — the corpus shape skip-gram
    training consumes (Grover & Leskovec KDD'16 run |V|·R walks, not a
    driver-listed seed handful; closes the r5 verdict's walk-corpus ask).

    Transitions are the same RNG-free Efraimidis–Spirakis weighted argmax
    as :func:`node2vec_walks`, with the walk index folded into the hash
    (walk r of source s draws key ln(h(s,r,t,cand))/α), so distinct walks
    from one source diverge deterministically and the WHOLE corpus is a
    pure function of (graph, R, length, p, q) — identical from any
    engine/run/partitioning, hence oracle-checkable.

    Scale shape: the walker frame is |V|·R rows — potentially the size of
    the vertex set, so unlike the seed-list variant it is NEVER
    force-broadcast; each step is an equi-join of walkers against the
    persisted adjacency on the current node (AQE broadcasts when the
    walker side is small, shuffles co-partitioned otherwise, and the
    adjacency exchange is reused across steps), one LEFT probe of
    (prev, cand) against the edge set for the distance-1 bias, and one
    per-(source, walk) argmax aggregation. Per-step checkpoint keeps the
    plan linear in ``length``. Returns (source, walk, step, node).

    Cost model (measured, SCALE.md §node2vec): per-step candidate volume
    is SIZE-BIASED — walkers concentrate on hubs in proportion to
    degree, so each step evaluates ≈ walkers × Σdeg²/Σdeg candidate
    rows; on power-law graphs that second moment, not |V| or |E|, is
    the scale driver. Every candidate pays one hash: ``hash_fn='md5'``
    (default) is the oracle-parity path (DuckDB replays it exactly);
    ``hash_fn='xxhash64'`` swaps in the JVM's native 64-bit hash for
    the E-S draw — same determinism and distributional behaviour,
    ~3× cheaper per candidate, for corpus generation at scale where no
    SQL twin needs to replay the draw.

    Reference parity: JasmineGraph trains embeddings from sampled
    neighborhoods per vertex (src_python/models/supervised.py); this is
    the batch walk-corpus generator that feeds the same training shape
    at cluster scale.
    """
    e = edges.select("src", "dst")
    if undirected:
        e = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.distinct().persist()
    if sources is None:
        sources = e.select(F.col("src").alias("node")).distinct()
    walks = F.explode(F.array(*[F.lit(r) for r in range(n_walks)])).alias("walk")
    cur = sources.select(
        F.col("node").alias("source"), walks
    ).select(
        "source", "walk", F.col("source").alias("node"), F.lit(None).cast(
            sources.schema["node"].dataType
        ).alias("prev")
    ).transform(checkpoint)
    out_rows = [cur.select("source", "walk", F.lit(0).alias("step"), "node")]
    back = e.select(
        F.col("src").alias("prev"), F.col("dst").alias("cand"), F.lit(1).alias("__near")
    )
    for t in range(length):
        cand = (
            cur.join(e, F.col("node") == F.col("src"))
            .select("source", "walk", "node", "prev", F.col("dst").alias("cand"))
            .join(back, ["prev", "cand"], "left")
        )
        alpha = (
            F.when(F.col("prev").isNull(), F.lit(1.0))
            .when(F.col("cand") == F.col("prev"), F.lit(1.0 / p))
            .when(F.col("__near").isNotNull(), F.lit(1.0))
            .otherwise(F.lit(1.0 / q))
        )
        seed = F.concat_ws(
            ":", F.col("source"), F.col("walk"), F.lit(t), F.col("cand")
        )
        if hash_fn == "md5":
            u = (
                F.conv(F.substring(F.md5(seed), 1, 12), 16, 10).cast("double")
                + F.lit(1.0)
            ) / F.lit(float(16**12))
        elif hash_fn == "xxhash64":
            u = (
                F.pmod(F.xxhash64(seed), F.lit(2**52)).cast("double") + F.lit(1.0)
            ) / F.lit(float(2**52))
        else:
            raise ValueError(f"unknown hash_fn {hash_fn!r} (md5 | xxhash64)")
        key = F.log(u) / alpha
        nxt = (
            cand.groupBy("source", "walk")
            .agg(
                F.max(F.struct(key.alias("k"), F.col("cand").alias("n"))).alias("m"),
                F.min("node").alias("prev_node"),
            )
            .select(
                "source",
                "walk",
                F.col("m.n").alias("node"),
                F.col("prev_node").alias("prev"),
            )
            .transform(checkpoint)
        )
        out_rows.append(nxt.select("source", "walk", F.lit(t + 1).alias("step"), "node"))
        cur = nxt
    out = out_rows[0]
    for w in out_rows[1:]:
        out = out.unionByName(w)
    return finalize(out, e)
