"""Driver contract for the spark-graft builder (PySpark target).

Every entry pairs a Spark implementation (jasminegraph_spark operators —
SURVEY.md §2 inventory) with an equivalent DuckDB oracle SQL. Graph
operators run over the TPC-H→property-graph projection
(jasminegraph_spark.projection); the oracle prepends the identical
projection as a CTE, so the comparison gates operator *semantics*.

Float columns are rounded identically on both sides (sums to 2 digits,
ratios/ranks to 6) — double arithmetic order differs between engines at
~1e-15 relative, far below the rounding grain.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jasminegraph_spark import analytics as an
from jasminegraph_spark import operators as ops
from jasminegraph_spark import pipeline as pl
from jasminegraph_spark.operators.predicates import coerced_compare, prop
from jasminegraph_spark.projection import (
    CO_ORDER_CTE,
    CO_ORDER_W_CTE,
    TPCH_GRAPH_CTE,
    co_order_edges,
    co_order_weighted_edges,
    tpch_graph,
)

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _pin(df: DataFrame) -> DataFrame:
    """Lazy single-execution pin for a multiply-referenced / range-sorted
    child (r13 mechanism, r14 routing — VERDICT r13 #5): truncate lineage
    so the range partitioner's sampling pass (or the first referencing
    action) is the ONE materialization and every later reference scans
    pinned blocks. Routed through cache.checkpoint instead of a bare
    Dataset.localCheckpoint so that configuring
    ``SPARK_GRAFT_CHECKPOINT_DIR`` upgrades every pin to a RELIABLE
    checkpoint into shared storage: at cluster scale a lost executor then
    re-reads checkpoint files instead of killing the query (localCheckpoint
    blocks live only on executors and have no recompute path). Default
    (no checkpoint dir) is byte-identical to the r13 behavior."""
    from jasminegraph_spark.cache import checkpoint

    return checkpoint(df, eager=False)


def _hex_to_num_sql(expr: str, digits: int = 12) -> str:
    """DuckDB expression: first ``digits`` hex chars of ``expr`` as a
    number (Horner on strpos) — mirrors Spark's conv(substring(...),16,10).
    48 bits < 53, so the double is exact and bit-identical cross-engine."""
    out = "0"
    for i in range(1, digits + 1):
        out = f"({out} * 16 + (strpos('0123456789abcdef', substr({expr}, {i}, 1)) - 1))"
    return out


def _read(spark, sf_dir, name, spread: bool | None = None, by: str | None = None):
    """Table read + scan-parallelism guard (r11): the local testdata
    parquet files carry a SINGLE row group each, so a plain scan — and
    every map-side stage above it (codec synth, n-gram explode, regex
    passes, partial aggregation) — runs as ONE task regardless of
    maxPartitionBytes (a row group is the atomic split unit; measured
    2-4x on the text-pipeline rows). For the row-wise-heavy tables
    (session.SPREAD_TABLES) a round-robin repartition spreads the scan:
    Catalyst still pushes filters and column pruning BELOW the exchange
    into the scan (tests/test_plans.py asserts PushedFilters + pruned
    ReadSchema below the exchange), so only the pruned columns shuffle
    once. Cheap relational scans skip it — the exchange costs more than
    the single-core map work it parallelizes. At cluster scale inputs
    arrive in many splits and it is a no-op (memoized).

    ``spread=False`` opts a QUERY out of its table's default (r12,
    VERDICT r11 ask #6): queries whose per-row work is trivially cheap
    (one hash, one window pack, bounded retrieval lists) pay more for
    the exchange than the parallelism buys — measured at sf0.1:
    pl_exact_dedup 0.54→0.27 s, pl_pack_sequences 0.85→0.56 s,
    pl_unigram_logprob 1.51→0.89 s, pl_graphrag_retrieve 3.52→2.15 s
    unspread, while the shingle/encode-heavy rows keep the spread
    (pl_bigram_logprob 8.98→2.38 s, pl_minhash_lsh 8.10→1.67 s WITH
    it).

    ``by`` (r14, guide §2.4/§2.5): spread by HASH of that column instead
    of round-robin — for queries whose first wide op groups/dedups on it
    the spread exchange doubles as the aggregation exchange (see
    session.spread_scan)."""
    from jasminegraph_spark.session import (
        SPREAD_TABLES,
        read_events,
        spread_scan,
    )

    if name == "events":
        df = read_events(spark, sf_dir)
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if spread is None:
        spread = name in SPREAD_TABLES
    if spread:
        df = spread_scan(df, key=(name, sf_dir), by=by)
    return df


def _g(spark, sf_dir):
    return tpch_graph(spark, sf_dir)


# ---------------------------------------------------------------------------
# Cypher operator family (SURVEY §2.1) over the tpch property graph
# ---------------------------------------------------------------------------


@_q("cy_all_node_scan", TPCH_GRAPH_CTE + "SELECT id, label FROM g_nodes")
def cy_all_node_scan(spark, sf_dir):
    df = ops.all_node_scan(_g(spark, sf_dir), "n")
    return ops.project(df, id=F.col("n.id"), label=F.col("n.label"))


@_q(
    "cy_node_scan_by_label",
    TPCH_GRAPH_CTE + "SELECT id FROM g_nodes WHERE label = 'Customer'",
)
def cy_node_scan_by_label(spark, sf_dir):
    df = ops.node_scan_by_label(_g(spark, sf_dir), "Customer", "n")
    return ops.project(df, id=F.col("n.id"))


@_q(
    "cy_node_by_id_seek",
    TPCH_GRAPH_CTE + "SELECT id, label FROM g_nodes WHERE id = 'c:42'",
)
def cy_node_by_id_seek(spark, sf_dir):
    df = ops.node_by_id_seek(_g(spark, sf_dir), "c:42", "n")
    return ops.project(df, id=F.col("n.id"), label=F.col("n.label"))


@_q(
    "cy_multi_label_scan",
    TPCH_GRAPH_CTE + "SELECT id, label FROM g_nodes WHERE label IN ('Customer','Supplier')",
)
def cy_multi_label_scan(spark, sf_dir):
    df = ops.multiple_node_scan_by_label(_g(spark, sf_dir), ["Customer", "Supplier"], "n")
    return ops.project(df, id=F.col("n.id"), label=F.col("n.label"))


@_q(
    "cy_directed_rel_type_scan",
    TPCH_GRAPH_CTE
    + """
    SELECT na.id AS a_id, na.label AS a_label, e.id AS r_id,
           nb.id AS b_id, nb.label AS b_label
    FROM g_edges e
    JOIN g_nodes na ON na.id = e.src
    JOIN g_nodes nb ON nb.id = e.dst
    WHERE e.type = 'PLACED'
    """,
)
def cy_directed_rel_type_scan(spark, sf_dir):
    df = ops.relationship_scan(_g(spark, sf_dir), "a", "r", "b", rel_type="PLACED", directed=True)
    return ops.project(
        df,
        a_id=F.col("a.id"),
        a_label=F.col("a.label"),
        r_id=F.col("r.id"),
        b_id=F.col("b.id"),
        b_label=F.col("b.label"),
    )


@_q(
    "cy_undirected_rel_type_scan",
    TPCH_GRAPH_CTE
    + """
    , oriented AS (
        SELECT id, src AS f, dst AS t FROM g_edges WHERE type = 'SUPPLIES'
        UNION ALL
        SELECT id, dst AS f, src AS t FROM g_edges WHERE type = 'SUPPLIES'
    )
    SELECT na.id AS a_id, o.id AS r_id, nb.id AS b_id
    FROM oriented o
    JOIN g_nodes na ON na.id = o.f
    JOIN g_nodes nb ON nb.id = o.t
    """,
)
def cy_undirected_rel_type_scan(spark, sf_dir):
    df = ops.relationship_scan(
        _g(spark, sf_dir), "a", "r", "b", rel_type="SUPPLIES", directed=False
    )
    return ops.project(df, a_id=F.col("a.id"), r_id=F.col("r.id"), b_id=F.col("b.id"))


@_q(
    "cy_expand_two_hop",
    TPCH_GRAPH_CTE
    + """
    SELECT 'c:' || c.c_custkey AS c_id, 'o:' || o.o_orderkey AS o_id,
           'p:' || l.l_partkey AS p_id
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_nationkey = 1
    """,
)
def cy_expand_two_hop(spark, sf_dir):
    """MATCH (c:Customer)-[:PLACED]->(o)-[:CONTAINS]->(p)
    WHERE c.nationkey = 1 RETURN c, o, p"""
    g = _g(spark, sf_dir)
    df = ops.node_scan_by_label(g, "Customer", "c")
    df = ops.filter_rows(df, coerced_compare(prop("c", "nationkey"), "==", 1))
    df = ops.expand_all(df, g, "c", "r1", "o", rel_type="PLACED", direction="out")
    df = ops.expand_all(df, g, "o", "r2", "p", rel_type="CONTAINS", direction="out")
    return ops.project(df, c_id=F.col("c.id"), o_id=F.col("o.id"), p_id=F.col("p.id"))


@_q(
    "cy_expand_undirected_unique",
    TPCH_GRAPH_CTE
    + """
    , sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
    SELECT 'p:' || s1.l_partkey AS p_id, 's:' || s2.l_suppkey AS s2_id
    FROM sp s1 JOIN sp s2 ON s1.l_partkey = s2.l_partkey
    WHERE s1.l_suppkey = 1 AND s2.l_suppkey <> 1
    """,
)
def cy_expand_undirected_unique(spark, sf_dir):
    """MATCH (s1)-[r1:SUPPLIES]->(p)<-[r2:SUPPLIES]-(s2) WHERE id(s1)='s:1'
    — relationship-uniqueness filter r1 <> r2 injected (the reference
    does the same: QueryPlanner.cpp:571-582)."""
    g = _g(spark, sf_dir)
    df = ops.node_by_id_seek(g, "s:1", "s1")
    df = ops.expand_all(df, g, "s1", "r1", "p", rel_type="SUPPLIES", direction="out")
    df = ops.expand_all(
        df, g, "p", "r2", "s2", rel_type="SUPPLIES", direction="in", unique_vs=["r1"]
    )
    return ops.project(df, p_id=F.col("p.id"), s2_id=F.col("s2.id"))


@_q(
    "cy_filter_coerce",
    TPCH_GRAPH_CTE
    + """
    SELECT 'c:' || c_custkey AS id, c_name AS name, c_acctbal AS acctbal
    FROM customer WHERE c_acctbal > 5000.0
    """,
)
def cy_filter_coerce(spark, sf_dir):
    """String-stored property compared against a numeric literal —
    literal-driven coercion (reference Helpers.cpp:197-236)."""
    df = ops.node_scan_by_label(_g(spark, sf_dir), "Customer", "n")
    df = ops.filter_rows(df, coerced_compare(prop("n", "acctbal"), ">", 5000.0))
    return ops.project(
        df,
        id=F.col("n.id"),
        name=prop("n", "name"),
        acctbal=prop("n", "acctbal").cast("double"),
    )


@_q(
    "cy_projection_missing_prop",
    TPCH_GRAPH_CTE
    + """
    SELECT 'c:' || c_custkey AS id, c_mktsegment AS mktsegment FROM customer
    UNION ALL
    SELECT id, CAST(NULL AS VARCHAR) FROM g_nodes WHERE label <> 'Customer'
    """,
)
def cy_projection_missing_prop(spark, sf_dir):
    """Projecting a property absent on most nodes → null
    (reference Helpers.cpp:204-210; integration_workflow_cypher.py:127-129)."""
    df = ops.all_node_scan(_g(spark, sf_dir), "n")
    return ops.project(df, id=F.col("n.id"), mktsegment=prop("n", "mktsegment"))


@_q("cy_distinct_labels", TPCH_GRAPH_CTE + "SELECT DISTINCT label FROM g_nodes")
def cy_distinct_labels(spark, sf_dir):
    """Distinct with real dedup semantics (the reference's Distinct is a
    no-op copy of Projection — OperatorExecutor.cpp:1351-1394)."""
    df = ops.all_node_scan(_g(spark, sf_dir), "n")
    return ops.distinct(ops.project(df, label=F.col("n.label")))


@_q(
    "cy_order_by_limit",
    TPCH_GRAPH_CTE
    + """
    , named AS (
        SELECT 'c:' || c_custkey AS id, c_name AS name FROM customer
        UNION ALL SELECT 's:' || s_suppkey, s_name FROM supplier
        UNION ALL SELECT 'p:' || p_partkey, p_name FROM part
        UNION ALL SELECT 'o:' || o_orderkey, NULL FROM orders
        UNION ALL SELECT 'n:' || n_nationkey, n_name FROM nation
        UNION ALL SELECT 'r:' || r_regionkey, r_name FROM region
    )
    SELECT id, name FROM named
    ORDER BY name ASC NULLS FIRST, id ASC LIMIT 100
    """,
)
def cy_order_by_limit(spark, sf_dir):
    df = ops.all_node_scan(_g(spark, sf_dir), "n")
    df = ops.project(df, id=F.col("n.id"), name=prop("n", "name"))
    df = ops.order_by(df, F.asc_nulls_first("name"), F.asc("id"))
    return ops.limit_skip(df, limit=100)


@_q(
    "cy_skip_limit",
    TPCH_GRAPH_CTE + "SELECT id FROM g_nodes ORDER BY id ASC LIMIT 50 OFFSET 20",
)
def cy_skip_limit(spark, sf_dir):
    df = ops.all_node_scan(_g(spark, sf_dir), "n")
    df = ops.order_by(ops.project(df, id=F.col("n.id")), F.asc("id"))
    return ops.limit_skip(df, limit=50, skip=20)


@_q(
    "cy_aggregate",
    """
    SELECT c_mktsegment AS mktsegment,
           COUNT(*) AS n,
           ROUND(AVG(c_acctbal), 6) AS avg_bal,
           MIN(c_acctbal) AS min_bal,
           MAX(c_acctbal) AS max_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def cy_aggregate(spark, sf_dir):
    """Aggregation — the reference implements only global avg as worker
    partials + weighted master combine (Aggregation.cpp:33-47); Spark's
    partial/final agg generalizes it to the full surface."""
    df = ops.node_scan_by_label(_g(spark, sf_dir), "Customer", "n")
    bal = prop("n", "acctbal").cast("double")
    return ops.aggregate(
        df,
        [prop("n", "mktsegment").alias("mktsegment")],
        {
            "n": F.count("*"),
            "avg_bal": F.round(F.avg(bal), 6),
            "min_bal": F.min(bal),
            "max_bal": F.max(bal),
        },
    )


@_q(
    "cy_cartesian_product",
    TPCH_GRAPH_CTE
    + """
    SELECT r.id AS r_id, n.id AS n_id
    FROM (SELECT id FROM g_nodes WHERE label = 'Region') r,
         (SELECT id FROM g_nodes WHERE label = 'Nation') n
    """,
)
def cy_cartesian_product(spark, sf_dir):
    g = _g(spark, sf_dir)
    left = ops.project(ops.node_scan_by_label(g, "Region", "r"), r_id=F.col("r.id"))
    right = ops.project(ops.node_scan_by_label(g, "Nation", "n"), n_id=F.col("n.id"))
    return ops.cartesian_product(left, right)


@_q(
    "cy_union",
    TPCH_GRAPH_CTE
    + """
    SELECT id FROM g_nodes WHERE label = 'Customer'
    UNION
    SELECT id FROM g_nodes WHERE label = 'Supplier'
    """,
)
def cy_union(spark, sf_dir):
    g = _g(spark, sf_dir)
    a = ops.project(ops.node_scan_by_label(g, "Customer", "n"), id=F.col("n.id"))
    b = ops.project(ops.node_scan_by_label(g, "Supplier", "n"), id=F.col("n.id"))
    return ops.union_rows(a, b, distinct_rows=True)


@_q(
    "cy_intersect",
    TPCH_GRAPH_CTE
    + """
    SELECT dst AS id FROM g_edges WHERE type = 'CONTAINS'
    INTERSECT
    SELECT dst FROM g_edges WHERE type = 'SUPPLIES'
    """,
)
def cy_intersect(spark, sf_dir):
    g = _g(spark, sf_dir)
    a = g.edges.filter(F.col("type") == "CONTAINS").select(F.col("dst").alias("id"))
    b = g.edges.filter(F.col("type") == "SUPPLIES").select(F.col("dst").alias("id"))
    return ops.intersect_rows(a, b)


@_q(
    "cy_vcnt_ecnt",
    TPCH_GRAPH_CTE
    + """
    SELECT (SELECT COUNT(*) FROM g_nodes) AS vcnt,
           (SELECT COUNT(*) FROM g_edges) AS ecnt
    """,
)
def cy_vcnt_ecnt(spark, sf_dir):
    """`vcnt`/`ecnt` catalog counts (FrontEnd.cpp:315-318)."""
    g = _g(spark, sf_dir)
    v = g.nodes.agg(F.count("*").alias("vcnt"))
    e = g.edges.agg(F.count("*").alias("ecnt"))
    return v.crossJoin(e)


# ---------------------------------------------------------------------------
# Graph analytics (SURVEY §2.3) over the co-order part graph
# ---------------------------------------------------------------------------


@_q(
    "an_degree_dist_in",
    CO_ORDER_CTE.replace("WITH", "WITH")
    + """
    , und AS (
        SELECT src AS v FROM co_edges UNION ALL SELECT dst FROM co_edges
    ), deg AS (SELECT v, COUNT(*) AS degree FROM und GROUP BY v)
    SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
    """,
)
def an_degree_dist_in(spark, sf_dir):
    """idegree/odegree distribution (JasmineGraphInstanceService.cpp:
    2305-2404) on the undirected co-order graph."""
    e = co_order_edges(spark, sf_dir)
    both = e.select(F.col("src").alias("node")).unionAll(e.select(F.col("dst")))
    per_node = both.groupBy("node").agg(F.count("*").alias("degree"))
    return per_node.groupBy("degree").agg(F.count("*").alias("n_nodes"))


@_q(
    "an_triangle_count",
    CO_ORDER_CTE
    + """
    SELECT COUNT(*) AS n_triangles
    FROM co_edges e1
    JOIN co_edges e2 ON e1.dst = e2.src
    JOIN co_edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    """,
)
def an_triangle_count(spark, sf_dir):
    """`trian` — exact triangle count (Triangles.cpp:28-118 +
    TriangleCountExecutor.cpp master aggregation, collapsed into one
    degree-ordered join job). assume_canonical: co_order_edges is already
    a<b distinct and session-cached — skip the redundant
    re-canonicalization exchange and duplicate persist (r13)."""
    return an.triangle_count_df(co_order_edges(spark, sf_dir), assume_canonical=True)


@_q(
    "an_clustering_coefficient",
    CO_ORDER_CTE
    + """
    , deg AS (
        SELECT v, COUNT(*) AS deg FROM (
            SELECT src AS v FROM co_edges
            UNION ALL SELECT dst FROM co_edges
        ) GROUP BY v
    ),
    w AS (SELECT CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges FROM deg),
    t AS (
        SELECT COUNT(*) AS n_triangles
        FROM co_edges e1
        JOIN co_edges e2 ON e1.dst = e2.src
        JOIN co_edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )
    SELECT t.n_triangles, w.n_wedges,
           printf('%.6f', 3.0 * t.n_triangles / w.n_wedges) AS global_cc
    FROM t, w
    """,
)
def an_clustering_coefficient(spark, sf_dir):
    """Global clustering coefficient 3·triangles/wedges over the co-order
    graph — normalizes `trian` into the transitivity statistic; the wedge
    denominator shares the persisted canonical edge set with the
    degree-ordered triangle join."""
    return an.clustering_coefficient(co_order_edges(spark, sf_dir))


@_q(
    "an_betweenness_sampled",
    CO_ORDER_CTE
    + """
    , bi AS (SELECT src, dst FROM co_edges UNION ALL SELECT dst, src FROM co_edges),
    l0 AS (SELECT s AS source, s AS node, CAST(1 AS BIGINT) AS sigma
           FROM (VALUES (1), (2), (3)) t(s)),
    l1 AS (
        SELECT l0.source, bi.dst AS node, SUM(l0.sigma) AS sigma
        FROM l0 JOIN bi ON bi.src = l0.node
        WHERE NOT EXISTS (SELECT 1 FROM l0 v
                          WHERE v.source = l0.source AND v.node = bi.dst)
        GROUP BY 1, 2
    ),
    l2 AS (
        SELECT l1.source, bi.dst AS node, SUM(l1.sigma) AS sigma
        FROM l1 JOIN bi ON bi.src = l1.node
        WHERE NOT EXISTS (SELECT 1 FROM l0 v
                          WHERE v.source = l1.source AND v.node = bi.dst)
          AND NOT EXISTS (SELECT 1 FROM l1 v
                          WHERE v.source = l1.source AND v.node = bi.dst)
        GROUP BY 1, 2
    ),
    l3 AS (
        SELECT l2.source, bi.dst AS node, SUM(l2.sigma) AS sigma
        FROM l2 JOIN bi ON bi.src = l2.node
        WHERE NOT EXISTS (SELECT 1 FROM l0 v
                          WHERE v.source = l2.source AND v.node = bi.dst)
          AND NOT EXISTS (SELECT 1 FROM l1 v
                          WHERE v.source = l2.source AND v.node = bi.dst)
          AND NOT EXISTS (SELECT 1 FROM l2 v
                          WHERE v.source = l2.source AND v.node = bi.dst)
        GROUP BY 1, 2
    ),
    d2 AS (
        SELECT l2.source, l2.node,
               SUM(l2.sigma * 1.0 / l3.sigma) AS delta
        FROM l2
        JOIN bi ON bi.src = l2.node
        JOIN l3 ON l3.source = l2.source AND l3.node = bi.dst
        GROUP BY 1, 2
    ),
    d1 AS (
        SELECT l1.source, l1.node,
               SUM(l1.sigma * 1.0 / l2.sigma * (1 + COALESCE(d2.delta, 0)))
                   AS delta
        FROM l1
        JOIN bi ON bi.src = l1.node
        JOIN l2 ON l2.source = l1.source AND l2.node = bi.dst
        LEFT JOIN d2 ON d2.source = l2.source AND d2.node = l2.node
        GROUP BY 1, 2
    ),
    bc AS (
        SELECT node, SUM(delta) AS bc FROM (
            SELECT * FROM d1 UNION ALL SELECT * FROM d2
        ) WHERE node NOT IN (1, 2, 3)
        GROUP BY node
    )
    SELECT node, printf('%.4f', ROUND(bc, 4)) AS betweenness
    FROM bc ORDER BY ROUND(bc, 4) DESC, node LIMIT 20
    """,
)
def an_betweenness_sampled(spark, sf_dir):
    """Sampled betweenness centrality (Brandes, sources 1-3, ≤3 hops) on
    the co-order graph: ONE multi-source sigma-counting BFS frame + one
    dependency-accumulation join per level — never a per-source job.
    Top-20 emitted with 4-decimal rounding (delta sums are float; the
    1e-13 cross-engine summation-order noise sits far below the grain).
    The reference exposes centrality only via its pagerank/degree
    commands — betweenness extends §2.3 with the third classic."""
    from jasminegraph_spark.analytics import betweenness_sampled

    bc = betweenness_sampled(co_order_edges(spark, sf_dir), [1, 2, 3], max_hops=3)
    return (
        bc.select(
            "node",
            F.format_string("%.4f", F.round(F.col("betweenness"), 4)).alias(
                "betweenness"
            ),
            F.round(F.col("betweenness"), 4).alias("_o"),
        )
        .orderBy(F.desc("_o"), F.asc("node"))
        .limit(20)
        .drop("_o")
    )


@_q(
    "an_degree_assortativity",
    CO_ORDER_CTE
    + """
    , und AS (SELECT src AS a, dst AS b FROM co_edges),
    bi AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT a AS v, COUNT(*) AS deg FROM bi GROUP BY a)
    SELECT COUNT(*) AS n_endpoints,
           printf('%.6f', corr(d1.deg, d2.deg)) AS assortativity
    FROM bi JOIN deg d1 ON d1.v = bi.a JOIN deg d2 ON d2.v = bi.b
    """,
)
def an_degree_assortativity(spark, sf_dir):
    """Degree assortativity (Pearson corr of endpoint degrees, both edge
    orientations) — the mixing statistic a partitioner cares about: a
    strongly assortative graph packs hubs together and skews any
    hash-partitioned join."""
    return an.degree_assortativity(co_order_edges(spark, sf_dir))


@_q(
    "an_egonet",
    CO_ORDER_CTE
    + """
    , nbr AS (
        SELECT dst AS node FROM co_edges WHERE src = 1
        UNION SELECT src FROM co_edges WHERE dst = 1
        UNION SELECT 1
    )
    SELECT e.src AS a, e.dst AS b
    FROM co_edges e
    WHERE e.src IN (SELECT node FROM nbr) AND e.dst IN (SELECT node FROM nbr)
    """,
)
def an_egonet(spark, sf_dir):
    """`egonet` — induced subgraph on {v} ∪ N(v)
    (JasmineGraphInstanceService.cpp:1404-1500)."""
    return an.egonet(co_order_edges(spark, sf_dir), 1)


def _pagerank_oracle(iterations: int = 5, alpha: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs (DuckDB oracle for
    the iterative DataFrame job — same recurrence, same vertex set)."""
    sql = CO_ORDER_CTE + """
    , edges AS (
        SELECT src, dst FROM co_edges UNION SELECT dst, src FROM co_edges
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outdeg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
    pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)
    """
    for i in range(iterations):
        sql += f"""
    , pr{i + 1} AS (
        SELECT n.node,
               (1 - {alpha}) / (SELECT n FROM nn)
               + {alpha} * COALESCE(m.mass, 0.0) AS rank
        FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, SUM(p.rank / o.od) AS mass
            FROM edges e JOIN pr{i} p ON p.node = e.src
            JOIN outdeg o ON o.src = e.src
            GROUP BY e.dst
        ) m ON m.node = n.node
    )"""
    sql += f"\n    SELECT node, ROUND(rank, 6) AS rank FROM pr{iterations}"
    return sql


@_q("an_pagerank", _pagerank_oracle(5, 0.85))
def an_pagerank(spark, sf_dir):
    """`pgrnk` (JasmineGraphInstanceService.cpp:1650-1816), 5 fixed
    iterations, α=0.85, symmetrized co-order graph."""
    # dedup_edges=False: co_order_edges is already a<b distinct (r12)
    ranks = an.pagerank(
        co_order_edges(spark, sf_dir), alpha=0.85, iterations=5,
        undirected=True, dedup_edges=False,
    )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


@_q(
    "an_top_k_pagerank",
    _pagerank_oracle(5, 0.85).replace(
        "SELECT node, ROUND(rank, 6) AS rank FROM pr5",
        "SELECT node, ROUND(rank, 6) AS rank FROM pr5 ORDER BY rank DESC, node ASC LIMIT 10",
    ),
)
def an_top_k_pagerank(spark, sf_dir):
    """`top_k_page_rank` (JasmineGraphInstanceService.cpp:2593-2653)."""
    ranks = an.pagerank(
        co_order_edges(spark, sf_dir), alpha=0.85, iterations=5,
        undirected=True, dedup_edges=False,
    )
    ranks = ranks.select("node", F.round("rank", 6).alias("rank"))
    return ranks.orderBy(F.desc("rank"), F.asc("node")).limit(10)


def _wpr_oracle(iterations: int, alpha: float) -> str:
    """Unrolled WEIGHTED PageRank on the weighted co-order graph
    (w = 1/n_shared_orders): mass splits ∝ w / Σ_out w."""
    sql = CO_ORDER_W_CTE + f"""
    , edges AS MATERIALIZED (
        SELECT src, dst, weight FROM co_w
        UNION ALL SELECT dst, src, weight FROM co_w
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outw AS (SELECT src, SUM(weight) AS ow FROM edges GROUP BY src),
    pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes)
    """
    for i in range(iterations):
        sql += f"""
    , pr{i + 1} AS MATERIALIZED (
        SELECT n.node,
               (1 - {alpha}) / (SELECT n FROM nn)
               + {alpha} * COALESCE(m.mass, 0.0) AS rank
        FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, SUM(p.rank * e.weight / o.ow) AS mass
            FROM edges e JOIN pr{i} p ON p.node = e.src
            JOIN outw o ON o.src = e.src
            GROUP BY e.dst
        ) m ON m.node = n.node
    )"""
    sql += f"\n    SELECT node, ROUND(rank, 6) AS rank FROM pr{iterations}"
    return sql


@_q("an_weighted_pagerank", _wpr_oracle(5, 0.85))
def an_weighted_pagerank(spark, sf_dir):
    """WEIGHTED `pgrnk` (same loop, mass ∝ edge weight / out-weight) on
    the co-order graph weighted by 1/n_shared_orders — strongly
    co-ordered parts pull more rank. Oracle unrolls the weighted
    recurrence."""
    # dedup_edges=False: the weighted projection has one row per
    # canonical pair already — no parallel edges to weight-sum (r12)
    ranks = an.pagerank(
        co_order_weighted_edges(spark, sf_dir),
        alpha=0.85,
        iterations=5,
        undirected=True,
        weight_col="weight",
        dedup_edges=False,
    )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _ppr_oracle(iterations: int, alpha: float, seeds: tuple) -> str:
    """Unrolled personalized PageRank: the _pagerank_oracle recurrence with
    the restart vector concentrated on the seed set (1/|S| per seed)."""
    seed_list = ", ".join(str(s) for s in seeds)
    share = 1.0 / len(seeds)
    sql = CO_ORDER_CTE + f"""
    , edges AS (
        SELECT src, dst FROM co_edges UNION SELECT dst, src FROM co_edges
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    outdeg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
    pr0 AS (
        SELECT node,
               CASE WHEN node IN ({seed_list}) THEN {share} ELSE 0.0 END AS rank
        FROM nodes
    )
    """
    for i in range(iterations):
        sql += f"""
    , pr{i + 1} AS (
        SELECT n.node,
               (1 - {alpha}) * CASE WHEN n.node IN ({seed_list}) THEN {share} ELSE 0.0 END
               + {alpha} * COALESCE(m.mass, 0.0) AS rank
        FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, SUM(p.rank / o.od) AS mass
            FROM edges e JOIN pr{i} p ON p.node = e.src
            JOIN outdeg o ON o.src = e.src
            GROUP BY e.dst
        ) m ON m.node = n.node
    )"""
    sql += f"""
    SELECT node, ROUND(rank, 6) AS rank FROM pr{iterations}
    WHERE ROUND(rank, 6) > 0
    """
    return sql


@_q("an_personalized_pagerank", _ppr_oracle(5, 0.85, (1, 2, 3)))
def an_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank / random walk with restart from seeds
    {1,2,3} — the `pgrnk` loop (JasmineGraphInstanceService.cpp:1650-1816)
    with a seed-concentrated restart vector, the standard "related nodes"
    recommendation query. Same broadcast-rank plan as an_pagerank (one
    persisted contribution frame, rank table broadcast per iteration);
    nodes with no walk mass are dropped so the result is the reachable
    neighborhood, not |V| rows of zeros."""
    ranks = an.personalized_pagerank(
        co_order_edges(spark, sf_dir), [1, 2, 3], alpha=0.85,
        iterations=5, undirected=True, dedup_edges=False,
    )
    ranks = ranks.select("node", F.round("rank", 6).alias("rank"))
    return ranks.filter(F.col("rank") > 0)


# ---------------------------------------------------------------------------
# Relational / SQL surface (the DataFrame substrate itself) + events stream
# ---------------------------------------------------------------------------


@_q(
    "rel_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def rel_q1_pricing_summary(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "rel_q3_shipping_priority",
    """
    SELECT o.o_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1999-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1999-03-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
    """,
)
def rel_q3_shipping_priority(spark, sf_dir):
    c = _read(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-03-15 00:00:00").cast("timestamp")
    )
    l = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-03-15 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .select("o_orderkey", "revenue", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@_q(
    "rel_q14_promo_revenue_share",
    """
    SELECT printf('%.6f',
               100.0 * SUM(CASE WHEN p.p_type = 'ECONOMY'
                                THEN l.l_extendedprice * (1 - l.l_discount)
                                ELSE 0 END)
               / SUM(l.l_extendedprice * (1 - l.l_discount))) AS promo_share,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1999-03-01 00:00:00'
    """,
)
def rel_q14_promo_revenue_share(spark, sf_dir):
    """TPC-H Q14 shape (promo revenue share): conditional aggregate over a
    fact⋈dim join — the dim side broadcasts, the date filter pushes to the
    fact scan. Share emitted %.6f (engine-portable ratio rule)."""
    l = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-03-01 00:00:00").cast("timestamp"))
    )
    p = _read(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.format_string(
                "%.6f",
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0)))
                / F.sum(rev),
            ).alias("promo_share"),
            F.count("*").alias("n_lines"),
        )
    )


@_q(
    "rel_q18_large_volume_customer",
    """
    SELECT c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS VARCHAR) AS o_date, o.o_totalprice,
           CAST(SUM(l.l_quantity) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING SUM(l_quantity) > 150
    )
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 20
    """,
)
def rel_q18_large_volume_customer(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): a HAVING-filtered
    aggregate drives a semi-join back into the fact table — the classic
    pre-aggregate-then-join pattern; the qualifying key set is tiny, so
    the semi-join broadcasts under AQE."""
    l = _read(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    return (
        l.join(big, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_date"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@_q(
    "rel_q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def rel_q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape (order priority checking): EXISTS decorrelates to a
    LEFT SEMI equi-join on the order key with the lateness comparison as a
    join residual — the date filter prunes the probe side at the scan, and
    the semi-join never materializes matching lineitems (testdata carries
    no l_commitdate/l_receiptdate, so 'late' is ship > order + 60 days)."""
    o = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    l = _read(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey)
            & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@_q(
    "rel_q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey LIMIT 20
    """,
)
def rel_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape (returned-item revenue ranking): fact⋈fact on the
    order key carries both date and returnflag filters to the scans;
    customer and nation broadcast. Top-20 runs as a partial TakeOrdered —
    no global sort materializes. Tie-broken on c_custkey so LIMIT is
    deterministic across engines."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    l = _read(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _read(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@_q(
    "rel_q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def rel_q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join with an ON-clause filter (not WHERE — zero-order customers must
    survive), then a two-level aggregate. The outer join shuffles on
    custkey once; the second groupBy is over ≤ a few hundred distinct
    counts, so it collapses map-side."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@_q(
    "rel_q15_top_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def rel_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape (top supplier): the revenue 'view' aggregates once;
    its scalar max comes back as a 1-row broadcast cross-join rather than
    a Window over an empty partitionBy (which would single-partition the
    whole frame). Revenue is rounded before the max-compare on both
    engines so float summation order can't flip the winner."""
    l = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = l.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "total_revenue"
        )
    )
    top = rev.agg(F.max("total_revenue").alias("mx"))
    s = _read(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(top), rev.total_revenue == F.col("mx"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@_q(
    "rel_q17_small_quantity_revenue",
    """
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 4) AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_cap
          FROM lineitem GROUP BY l_partkey) t ON t.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND l.l_quantity < t.qty_cap
    """,
)
def rel_q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    scalar subquery (per-part average quantity) decorrelates into an
    aggregate-then-rejoin on partkey — one extra shuffle over the fact,
    no per-row subquery execution. The brand filter broadcasts from part
    and prunes before the quantity compare."""
    l = _read(spark, sf_dir, "lineitem")
    p = _read(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    caps = l.groupBy("l_partkey").agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_cap"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(caps.withColumnRenamed("l_partkey", "cap_partkey"),
              F.col("l_partkey") == F.col("cap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(
            F.round(F.sum("l_extendedprice") / F.lit(7.0), 4).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


@_q(
    "rel_q19_disjunctive_predicates",
    """
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def rel_q19_disjunctive_predicates(spark, sf_dir):
    """TPC-H Q19 shape (disjunctive join predicates): three OR'd
    brand/size/quantity branches. Catalyst factors the common p_partkey
    equi-key out of the disjunction so the join stays hash (not BNLJ),
    with the OR residual evaluated post-probe; the derivable
    brand-IN-(1,2,3) filter prunes the broadcast side."""
    l = _read(spark, sf_dir, "lineitem")
    p = _read(spark, sf_dir, "part")
    joined = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((brand == "Brand#1") & size.between(1, 15) & qty.between(1, 20))
        | ((brand == "Brand#2") & size.between(10, 30) & qty.between(10, 30))
        | ((brand == "Brand#3") & size.between(20, 50) & qty.between(20, 40))
    )
    return joined.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        ),
        F.count("*").alias("n_lines"),
    )


@_q(
    "rel_q22_dormant_customers",
    """
    SELECT c.c_nationkey AS nation, COUNT(*) AS numcust,
           ROUND(SUM(c.c_acctbal), 4) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT'
                        AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
    GROUP BY c.c_nationkey ORDER BY nation
    """,
)
def rel_q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22 shape (dormant high-balance customers): a scalar
    aggregate broadcast as a 1-row cross join gates the balance filter,
    then a LEFT ANTI join against the filtered orders finds customers
    with no urgent pre-1996 order — the anti-join build side carries the
    filters, so it's a fraction of orders."""
    c = _read(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    urgent = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    return (
        c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("ab"))
        .join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
        .orderBy("nation")
    )


@_q(
    "rel_q8_market_share",
    """
    WITH v AS (
        SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n.n_name AS supp_nation
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE p.p_type = 'ECONOMY'
    )
    SELECT o_year,
           printf('%.6f', SUM(CASE WHEN supp_nation = 'NATION_0' THEN volume
                                   ELSE 0 END) / SUM(volume)) AS mkt_share
    FROM v GROUP BY o_year ORDER BY o_year
    """,
)
def rel_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape (national market share): conditional-sum share per
    year over a 5-way join — part/supplier/nation broadcast, the
    lineitem⋈orders equi-join is the only real shuffle; the share is a
    same-group conditional ratio (single aggregate pass, no self-join)."""
    l = _read(spark, sf_dir, "lineitem")
    p = _read(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = _read(spark, sf_dir, "supplier")
    o = _read(spark, sf_dir, "orders")
    n = _read(spark, sf_dir, "nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.format_string(
                "%.6f",
                F.sum(F.when(F.col("n_name") == "NATION_0", vol).otherwise(F.lit(0)))
                / F.sum(vol),
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@_q(
    "rel_q9_product_profit",
    """
    SELECT n.n_name AS nation, EXTRACT(year FROM o.o_orderdate) AS o_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                     - 0.6 * p.p_retailprice * l.l_quantity), 4) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY nation, o_year ORDER BY nation, o_year DESC
    """,
)
def rel_q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit by nation and year): testdata
    has no partsupp/supplycost, so cost is proxied at 60% of retail price
    — the plan shape is the point: a LIKE filter pushed to the part scan,
    three broadcast dims around the lineitem⋈orders shuffle, then a
    two-key aggregate."""
    l = _read(spark, sf_dir, "lineitem")
    p = _read(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    s = _read(spark, sf_dir, "supplier")
    o = _read(spark, sf_dir, "orders")
    n = _read(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.6) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 4).alias("profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


@_q(
    "rel_q11_important_parts",
    """
    WITH pv AS (
        SELECT l.l_partkey AS partkey, SUM(l.l_extendedprice) AS value
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        WHERE s.s_nationkey < 5
        GROUP BY l.l_partkey
    )
    SELECT partkey, ROUND(value, 4) AS value
    FROM pv WHERE value > (SELECT 0.001 * SUM(value) FROM pv)
    ORDER BY partkey
    """,
)
def rel_q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape (important inventory): per-part value restricted
    to one region's suppliers (nations 0-4), kept above a global-share
    threshold —
    the scalar total comes back as a 1-row broadcast, so the HAVING
    against it is a map-side filter over the aggregated frame (no second
    shuffle)."""
    l = _read(spark, sf_dir, "lineitem")
    s = _read(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5)
    pv = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum("l_extendedprice").alias("value"))
    )
    thresh = pv.agg((F.lit(0.001) * F.sum("value")).alias("t"))
    return (
        pv.join(F.broadcast(thresh), F.col("value") > F.col("t"))
        .select("partkey", F.round(F.col("value"), 4).alias("value"))
        .orderBy("partkey")
    )


@_q(
    "rel_q12_late_by_priority",
    """
    SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 'high' ELSE 'low' END AS prio_class,
           COUNT(*) FILTER (l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
               AS late_count,
           COUNT(*) AS line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY prio_class ORDER BY prio_class
    """,
)
def rel_q12_late_by_priority(spark, sf_dir):
    """TPC-H Q12 shape (shipping delay by priority class; testdata has no
    l_shipmode, so the 2-bucket CASE runs on order priority): fact⋈fact
    equi-join with the year filter pushed to the lineitem scan and a
    conditional count — one shuffle, two output rows."""
    l = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = _read(spark, sf_dir, "orders")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high"
            )
            .otherwise("low")
            .alias("prio_class")
        )
        .agg(
            F.sum(late.cast("long")).alias("late_count"),
            F.count("*").alias("line_count"),
        )
        .orderBy("prio_class")
    )


@_q(
    "rel_q16_supplier_part_counts",
    """
    SELECT p.p_brand, p.p_type, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
    GROUP BY p.p_brand, p.p_type
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type
    """,
)
def rel_q16_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 shape (supplier diversity per part group; partsupp is
    derived from lineitem in this schema): COUNT(DISTINCT) over a
    broadcast-dim join — Spark expands distinct aggregation into a
    two-phase partial/final plan automatically; the NOT/IN filters prune
    the broadcast side at its scan."""
    l = _read(spark, sf_dir, "lineitem")
    p = _read(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"))
    )


@_q(
    "rel_q20_dominant_suppliers",
    """
    WITH sq AS (
        SELECT l.l_suppkey, l.l_partkey, SUM(l.l_quantity) AS supp_qty
        FROM lineitem l
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_suppkey, l.l_partkey
    ),
    pq AS (SELECT l_partkey, SUM(supp_qty) AS part_qty FROM sq GROUP BY l_partkey)
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS n_dominated_parts
    FROM sq JOIN pq ON pq.l_partkey = sq.l_partkey
    JOIN supplier s ON s.s_suppkey = sq.l_suppkey
    WHERE sq.supp_qty > 0.5 * pq.part_qty
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY n_dominated_parts DESC, s.s_suppkey LIMIT 20
    """,
)
def rel_q20_dominant_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (no partsupp.availqty in this schema, so the
    'more than half the available quantity' predicate becomes 'shipped
    more than half a part's annual volume'): the correlated threshold
    decorrelates into a per-(supplier, part) aggregate REUSED as the
    input of the per-part rollup — the second aggregate reads the first's
    shuffle output (same key prefix), not the fact table again."""
    l = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    sq = l.groupBy("l_suppkey", "l_partkey").agg(F.sum("l_quantity").alias("supp_qty"))
    pq = sq.groupBy("l_partkey").agg(F.sum("supp_qty").alias("part_qty"))
    s = _read(spark, sf_dir, "supplier")
    return (
        sq.join(pq, "l_partkey")
        .filter(F.col("supp_qty") > 0.5 * F.col("part_qty"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("n_dominated_parts"))
        .orderBy(F.desc("n_dominated_parts"), F.asc("s_suppkey"))
        .limit(20)
    )


@_q(
    "rel_value_percentiles",
    """
    SELECT event_type,
           printf('%.6f', quantile_cont(value, 0.5)) AS p50,
           printf('%.6f', quantile_cont(value, 0.95)) AS p95,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def rel_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per event type: Spark `percentile`
    and DuckDB `quantile_cont` implement the same linear-interpolation
    definition, so the values match bit-for-bit on identical inputs
    (%.6f-formatted per the float parity rule). At 100 TB the exact sort
    per group is the cost — the approx_percentile(t-digest) swap-in is
    one function name away, traded consciously because sketches are not
    engine-portable."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.format_string("%.6f", F.percentile("value", F.lit(0.5))).alias("p50"),
            F.format_string("%.6f", F.percentile("value", F.lit(0.95))).alias("p95"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


@_q(
    "rel_q21_waiting_supplier",
    """
    WITH marks AS (
        SELECT l.l_orderkey, l.l_suppkey,
               MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                        THEN 1 ELSE 0 END) AS late
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY l.l_orderkey, l.l_suppkey
    ),
    ord AS (
        SELECT l_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late
        FROM marks GROUP BY l_orderkey
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM marks m
    JOIN ord USING (l_orderkey)
    JOIN supplier s ON s.s_suppkey = m.l_suppkey
    WHERE m.late = 1 AND ord.n_supp >= 2 AND ord.n_late = 1
    GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 20
    """,
)
def rel_q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept multi-supplier orders
    waiting): the EXISTS(other supplier) / NOT EXISTS(other late
    supplier) pair decorrelates into ONE per-(order,supplier) lateness
    aggregate plus a per-order rollup — two shuffles on the same
    l_orderkey key (AQE coalesces the exchange), instead of two
    correlated re-scans of lineitem."""
    l = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    s = _read(spark, sf_dir, "supplier")
    late = (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    ).cast("int")
    marks = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
    )
    ordstats = marks.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"), F.sum("late").alias("n_late")
    )
    return (
        marks.filter(F.col("late") == 1)
        .join(ordstats, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@_q(
    "rel_q5_local_supplier_volume",
    """
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY n.n_name
    """,
)
def rel_q5_local_supplier_volume(spark, sf_dir):
    """Q5 shape: multi-way join with small-dim broadcast; the
    customer-nation = supplier-nation predicate rides the join."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    l = _read(spark, sf_dir, "lineitem")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == o.o_orderkey)
        .join(
            F.broadcast(s),
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
    )


@_q(
    "rel_q6_forecast_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def rel_q6_forecast_revenue(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"))


@_q(
    "st_windowed_event_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def st_windowed_event_counts(spark, sf_dir):
    """STRUCTURED STREAMING driver row (§2.6 — previously pytest-only
    evidence): the events table replayed as a micro-batched stream
    (trigger availableNow) through the watermarked tumbling-window
    aggregation (streaming/windows.windowed_event_counts), collected via
    a memory sink in complete mode. The oracle is the batch twin — a
    bounded replay must converge to exactly the batch answer. Reference
    parity: its adstrmk ingest re-counts per batch with no event-time
    semantics (StreamHandler.cpp); this is the windowed surface a real
    pipeline needs."""
    import os
    import shutil
    import tempfile
    import uuid

    from jasminegraph_spark.streaming.windows import windowed_event_counts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    # readStream sources take a DIRECTORY; the testdata table is one file —
    # expose it through a symlink dir (no copy)
    stream_dir = tempfile.mkdtemp(prefix="jgs_stream_")
    os.symlink(os.path.abspath(path), os.path.join(stream_dir, "events.parquet"))
    file_schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(file_schema).parquet(stream_dir)
    ts_t = file_schema["ts"].dataType.simpleString()
    if ts_t == "bigint":  # nanos-as-long testdata vintages
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.floor(F.col("ts") / F.lit(1000)).cast("long"))
        )
    elif ts_t == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = windowed_event_counts(stream, window="1 hour", watermark="30 minutes")
    name = f"st_hourly_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # memory sink is fully materialized — drop the scratch symlink dir now
    shutil.rmtree(stream_dir, ignore_errors=True)
    return (
        spark.table(name)
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("hour_start", "event_type")
    )


@_q(
    "st_session_window_counts",
    """
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions
    FROM gaps GROUP BY user_id ORDER BY user_id
    """,
)
def st_session_window_counts(spark, sf_dir):
    """STREAMING session windows (built-in session_window, 30-min
    inactivity gap) replayed with availableNow — per-user session counts
    must equal the batch gap-detection sessionization. Note the oracle's
    >= boundary: session_window's windows are end-EXCLUSIVE (an event
    exactly gap-after the last starts a new session). Completes §2.6
    with dynamic-gap windows next to the tumbling st_ row."""
    import os
    import shutil
    import tempfile
    import uuid

    from jasminegraph_spark.streaming.windows import session_window_counts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    stream_dir = tempfile.mkdtemp(prefix="jgs_sess_")
    os.symlink(os.path.abspath(path), os.path.join(stream_dir, "events.parquet"))
    file_schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(file_schema).parquet(stream_dir)
    ts_t = file_schema["ts"].dataType.simpleString()
    if ts_t == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.floor(F.col("ts") / F.lit(1000)).cast("long"))
        )
    elif ts_t == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = session_window_counts(stream, gap="30 minutes", watermark="1 hour")
    name = f"st_sess_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(stream_dir, ignore_errors=True)
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy("user_id")
    )


@_q(
    "st_stream_stream_join",
    """
    WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT c.user_id, COUNT(*) AS n_pairs
    FROM c JOIN p ON p.user_id = c.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    GROUP BY c.user_id ORDER BY c.user_id
    """,
)
def st_stream_stream_join(spark, sf_dir):
    """STREAM-STREAM inner join (§2.6): clicks and purchases replayed as
    two streams off the same source; each click pairs with the same
    user's purchases within the following hour. Both sides are
    watermarked and the join carries the time-range — the pair Spark
    needs to derive a state TTL and evict buffered rows (unbounded
    buffers otherwise). availableNow replay through a memory sink, then
    a batch per-user count; the oracle is the equivalent batch range
    join."""
    import os
    import shutil
    import tempfile
    import uuid

    from jasminegraph_spark.streaming.windows import stream_stream_interval_join

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    stream_dir = tempfile.mkdtemp(prefix="jgs_ssj_")
    os.symlink(os.path.abspath(path), os.path.join(stream_dir, "events.parquet"))
    file_schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(file_schema).parquet(stream_dir)
    ts_t = file_schema["ts"].dataType.simpleString()
    if ts_t == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.floor(F.col("ts") / F.lit(1000)).cast("long"))
        )
    elif ts_t == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = stream.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("r_ts")
    )
    joined = stream_stream_interval_join(clicks, purchases, within="1 hour")
    name = f"st_ssj_{uuid.uuid4().hex[:8]}"
    # state-store instances scale with shuffle partitions (4 stores per
    # partition for a stream-stream join); at driver-test scale 8
    # partitions cut ~30 s of store setup/commit overhead vs 32 — on a
    # real cluster this knob stays at the session default
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(stream_dir, ignore_errors=True)
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("user_id")
    )


@_q(
    "st_streaming_dedup",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_unique_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def st_streaming_dedup(spark, sf_dir):
    """STATEFUL STREAMING DEDUP driver row (§2.6): the event stream
    deduplicated per (user_id, event_type) with
    dropDuplicatesWithinWatermark (streaming/windows.streaming_dedup
    semantics — state evicted past the watermark horizon), replayed with
    availableNow. A bounded replay keeps exactly the first row per key,
    so per-type survivor counts equal the batch COUNT(DISTINCT user_id)
    oracle."""
    import os
    import tempfile
    import uuid

    import shutil

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    stream_dir = tempfile.mkdtemp(prefix="jgs_dedup_")
    try:
        os.symlink(os.path.abspath(path), os.path.join(stream_dir, "events.parquet"))
        file_schema = spark.read.parquet(path).schema
        stream = spark.readStream.schema(file_schema).parquet(stream_dir)
        ts_t = file_schema["ts"].dataType.simpleString()
        if ts_t == "bigint":
            stream = stream.withColumn(
                "ts", F.timestamp_micros(F.floor(F.col("ts") / F.lit(1000)).cast("long"))
            )
        elif ts_t == "timestamp_ntz":
            stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["user_id", "event_type"]
        )
        name = f"st_dedup_{uuid.uuid4().hex[:8]}"
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                deduped.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        return (
            spark.table(name)
            .groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n_unique_users"))
            .orderBy("event_type")
        )
    finally:
        # the memory-sink table is fully materialized by awaitTermination,
        # so the scratch symlink dir can go immediately
        shutil.rmtree(stream_dir, ignore_errors=True)


def _strian_prefix_count(bound: str | None) -> str:
    cond = f"WHERE e1.h < '{bound}' AND e2.h < '{bound}' AND e3.h < '{bound}'" if bound else ""
    return f"""(
        SELECT COUNT(*) FROM tagged e1
        JOIN tagged e2 ON e1.dst = e2.src
        JOIN tagged e3 ON e3.src = e1.src AND e3.dst = e2.dst
        {cond})"""


@_q(
    "st_incremental_triangles",
    CO_ORDER_CTE
    + f"""
    , tagged AS MATERIALIZED (
        SELECT src, dst,
               substring(md5(CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR)), 1, 1) AS h
        FROM co_edges
    )
    SELECT 1 AS batch_no, CAST({_strian_prefix_count("4")} AS BIGINT) AS running_triangles
    UNION ALL SELECT 2, CAST({_strian_prefix_count("8")} AS BIGINT)
    UNION ALL SELECT 3, CAST({_strian_prefix_count("c")} AS BIGINT)
    UNION ALL SELECT 4, CAST({_strian_prefix_count(None)} AS BIGINT)
    ORDER BY batch_no
    """,
)
def st_incremental_triangles(spark, sf_dir):
    """`strian` driver row (§2.3 — previously pytest-only): the co-order
    edge set arrives as 4 deterministic md5-ranged batches; the
    StreamingTriangleCounter (streaming/ingest.py:218, the reference's
    StreamingTriangles.cpp:26-104 loop) folds each batch into its
    accumulated state doing |new|·avg-degree work — never a recount —
    and the running total after every batch must hash-match DuckDB's
    from-scratch triangle count of that prefix graph. Batch k's delta
    counting only triangles touching k's edges is exactly the
    incremental contract."""
    import shutil
    import tempfile

    from jasminegraph_spark.streaming.ingest import StreamingTriangleCounter

    # cache the stamped edge set ONCE per run (r12, VERDICT r11 ask #3):
    # each of the 4 batch filters below otherwise re-reads the whole
    # co-order pipeline when the session cache was cleared between bench
    # runs — one lazy materialization, four cheap block scans, released
    # in the finally
    e = co_order_edges(spark, sf_dir).withColumn(
        "_h", F.substring(F.md5(F.concat_ws("|", "src", "dst")), 1, 1)
    ).persist()
    state = tempfile.mkdtemp(prefix="jgs_strian_")
    rows = []
    try:
        ctr = StreamingTriangleCounter(spark, f"{state}/edges")
        for batch_no, (lo, hi) in enumerate(
            [(None, "4"), ("4", "8"), ("8", "c"), ("c", None)], start=1
        ):
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col("_h") >= lo)
            if hi is not None:
                cond = cond & (F.col("_h") < hi)
            total = ctr.process_batch(e.filter(cond).select("src", "dst"), batch_no)
            rows.append((batch_no, int(total)))
    finally:
        e.unpersist()  # release the per-run edge cache (r12 review)
        shutil.rmtree(state, ignore_errors=True)
    return spark.createDataFrame(rows, "batch_no int, running_triangles long")


@_q("st_restart_replay", _ORACLES["st_incremental_triangles"])
def st_restart_replay(spark, sf_dir):
    """RESTART-DURABILITY driver row (r8, VERDICT r7 #6 — the
    kill-and-rebuild proof was pytest-only): identical batch schedule and
    oracle as `st_incremental_triangles` (from-scratch prefix recounts),
    but the StreamingTriangleCounter is DROPPED after batch 2 and a fresh
    instance is rebuilt from ``state_path`` alone (streaming/ingest.py
    `_load_aggregate` — total + row-count restored from _aggregate.json,
    integrity-checked against the edge parquet). Batches 3-4 then run on
    the rebuilt tracker; matching the same prefix oracle proves the
    resumed state is byte-equivalent to the unbroken run (reference keeps
    these counters transactionally in streamingdb,
    StreamingTriangleCountExecutor.cpp:636-706)."""
    import shutil
    import tempfile

    from jasminegraph_spark.streaming.ingest import StreamingTriangleCounter

    # cached once per run — same rationale as st_incremental_triangles
    e = co_order_edges(spark, sf_dir).withColumn(
        "_h", F.substring(F.md5(F.concat_ws("|", "src", "dst")), 1, 1)
    ).persist()
    state = tempfile.mkdtemp(prefix="jgs_replay_")
    rows = []
    try:
        ctr = StreamingTriangleCounter(spark, f"{state}/edges")
        for batch_no, (lo, hi) in enumerate(
            [(None, "4"), ("4", "8"), ("8", "c"), ("c", None)], start=1
        ):
            if batch_no == 3:
                del ctr  # "kill": every in-memory cursor and total dropped
                ctr = StreamingTriangleCounter(spark, f"{state}/edges")
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col("_h") >= lo)
            if hi is not None:
                cond = cond & (F.col("_h") < hi)
            total = ctr.process_batch(e.filter(cond).select("src", "dst"), batch_no)
            rows.append((batch_no, int(total)))
    finally:
        e.unpersist()  # release the per-run edge cache (r12 review)
        shutil.rmtree(state, ignore_errors=True)
    return spark.createDataFrame(rows, "batch_no int, running_triangles long")


@_q(
    "rel_scd2_user_state",
    """
    WITH changes AS (
        SELECT user_id, event_type, ts,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type,
               event_id
        FROM events
    ),
    starts AS (
        SELECT user_id, event_type, ts, event_id FROM changes
        WHERE prev_type IS NULL OR prev_type <> event_type
    ),
    versions AS (
        SELECT user_id, event_type,
               ts AS valid_from,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to
        FROM starts
    )
    SELECT user_id,
           event_type AS state,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
           COALESCE(strftime(valid_to, '%Y-%m-%d %H:%M:%S'), 'current') AS valid_to,
           CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
    FROM versions
    ORDER BY user_id, valid_from
    """,
)
def rel_scd2_user_state(spark, sf_dir):
    """Slowly-changing-dimension TYPE-2 build from the event stream: each
    user's consecutive runs of the same event_type collapse into one
    versioned row with [valid_from, valid_to) — LAG detects change
    points, LEAD closes each version; the open version flags is_current.
    One window partition per user (bounded state), no self-joins — the
    standard dimension-history pattern a warehouse ingests nightly at
    any scale."""
    from pyspark.sql.window import Window as _W

    ev = _read(spark, sf_dir, "events")
    w = _W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    starts = changes.filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    w2 = _W.partitionBy("user_id").orderBy("ts", "event_id")
    versions = starts.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    )
    return versions.select(
        "user_id",
        "state",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss"), F.lit("current")
        ).alias("valid_to"),
        F.when(F.col("valid_to").isNull(), 1).otherwise(0).alias("is_current"),
    ).orderBy("user_id", "valid_from")


@_q(
    "rel_cdc_apply",
    """
    WITH ranked AS (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, ROUND(value, 2) AS value
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    ORDER BY user_id
    """,
)
def rel_cdc_apply(spark, sf_dir):
    """CDC MERGE (operators/temporal.apply_cdc): the event stream as a
    change feed onto a per-user state table — 'error' events are delete
    tombstones, everything else upserts the event's value; latest change
    per user wins. One change-stream window + one full-outer join, the
    exact shuffle a Delta/Iceberg MERGE plans. The oracle is the merged
    table's closed form: each user's latest event, dropped when it is a
    tombstone."""
    from pyspark.sql.window import Window as _W

    from jasminegraph_spark.operators import apply_cdc

    ev = _read(spark, sf_dir, "events")
    # unique (user, ts) change rows: keep the max-event_id event so the
    # merge tie-break is fully deterministic
    w = _W.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    changes = (
        ev.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(
            "user_id",
            "ts",
            F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
            "value",
        )
    )
    w2 = _W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    snapshot = (
        ev.withColumn("__r", F.row_number().over(w2))
        .filter(F.col("__r") == 1)
        .select("user_id", "value")
    )
    merged = apply_cdc(snapshot, changes, ["user_id"], ts_col="ts", op_col="op")
    return merged.select("user_id", F.round("value", 2).alias("value")).orderBy(
        "user_id"
    )


@_q(
    "rel_event_funnel",
    """
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s1) AS n_signup,
           (SELECT COUNT(*) FROM s2) AS n_click_after,
           (SELECT COUNT(*) FROM s3) AS n_purchase_after,
           printf('%.6f', CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
               / (SELECT COUNT(*) FROM s1)) AS conversion
    """,
)
def rel_event_funnel(spark, sf_dir):
    """Ordered event funnel (signup → later click → later purchase): the
    product-analytics conversion query. Each stage is one MIN-ts
    aggregation semi-joined to the previous stage's completion time —
    per-user state, no window over the whole stream, stages prune
    monotonically. Conversion = stage-3 users / stage-1 users."""
    ev = _read(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1 = s1.count()
    n2 = s2.count()
    n3 = s3.count()
    return spark.createDataFrame(
        [(n1, n2, n3, "%.6f" % (n3 / float(n1)))],
        "n_signup: long, n_click_after: long, n_purchase_after: long, conversion: string",
    )


@_q(
    "rel_json_props_extract",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(props ->> '$.k' AS BIGINT)) AS min_k,
           MAX(CAST(props ->> '$.k' AS BIGINT)) AS max_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def rel_json_props_extract(spark, sf_dir):
    """Semi-structured property extraction: parse the events.props JSON
    column with an explicit schema (ONE typed from_json per row,
    JVM-side/codegen — never a Python loop) and aggregate the extracted
    field. The log-pipeline staple: at 100 TB the parse cost dominates, so
    the schema is given up front (no schema inference pass) and the parse
    feeds straight into a partial-agg groupBy."""
    ev = _read(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@_q(
    "rel_events_hourly",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def rel_events_hourly(spark, sf_dir):
    """Tumbling-window aggregation over the event stream table (batch view
    of the Structured Streaming pipeline in jasminegraph_spark.streaming)."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@_q(
    "rel_events_sessionize",
    """
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions
    FROM gaps GROUP BY user_id
    """,
)
def rel_events_sessionize(spark, sf_dir):
    """Session counting via gap detection — window functions (lag +
    conditional sum), the standard sessionization building block."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.select("user_id", new_sess.alias("new_session"))
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"))
    )


@_q(
    "rel_events_topk_users",
    """
    SELECT user_id, ROUND(SUM(value), 2) AS total_value, COUNT(*) AS n
    FROM events GROUP BY user_id
    ORDER BY total_value DESC, user_id ASC LIMIT 20
    """,
)
def rel_events_topk_users(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.round(F.sum("value"), 2).alias("total_value"), F.count("*").alias("n"))
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(20)
    )


@_q(
    "rel_q2_min_cost_supplier",
    """
    WITH costs AS (
        SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_acctbal,
               MIN(l.l_extendedprice / l.l_quantity) AS unit_cost
        FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        WHERE l.l_quantity > 0
        GROUP BY p.p_partkey, p.p_name, s.s_suppkey, s.s_acctbal
    )
    SELECT p_partkey, p_name, s_suppkey, unit_cost
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY p_partkey
            ORDER BY unit_cost ASC, s_suppkey ASC) AS rn
        FROM costs
    ) WHERE rn = 1
    """,
)
def rel_q2_min_cost_supplier(spark, sf_dir):
    """Q2 shape: min-cost supplier per part — correlated-min rewritten as
    a window rank (the decorrelation Catalyst would do for the subquery)."""
    p = _read(spark, sf_dir, "part")
    l = _read(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    s = _read(spark, sf_dir, "supplier")
    costs = (
        p.join(l, F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_acctbal")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    # raw-double ordering/output: the quotient is IEEE-deterministic in both
    # engines, while ROUND itself differs on half-way decimals (Spark
    # rounds the shortest decimal repr; DuckDB multiplies by 10^k)
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("unit_cost").asc(), F.col("s_suppkey").asc()
    )
    return (
        costs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_name", "s_suppkey", "unit_cost")
    )


@_q(
    "rel_q7_nation_volume",
    """
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS volume,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    WHERE cn.n_nationkey <> sn.n_nationkey
    GROUP BY cn.n_name, sn.n_name
    """,
)
def rel_q7_nation_volume(spark, sf_dir):
    """Q7 shape: cross-nation trade volume — two broadcast dims aliased
    twice against one fact join."""
    l = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    cn = n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation"))
    sn = n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    return (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(cn), F.col("cnk") == F.col("c_nationkey"))
        .join(F.broadcast(sn), F.col("snk") == F.col("s_nationkey"))
        .filter(F.col("cnk") != F.col("snk"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "volume"
            ),
            F.count("*").alias("n_items"),
        )
    )


@_q(
    "rel_running_balance",
    """
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           ROUND(SUM(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
    FROM events WHERE user_id < 5
    """,
)
def rel_running_balance(spark, sf_dir):
    """Running aggregate window over the event stream (per-user cumulative
    value) — rows-frame window function coverage."""
    ev = _read(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round(F.sum("value").over(w), 2).alias("running"),
    )


@_q(
    "rel_rollup_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def rel_rollup_pricing(spark, sf_dir):
    """Grouping-set coverage: ROLLUP subtotals + grand total."""
    li = _read(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


@_q(
    "rel_pivot_events",
    """
    SELECT day(ts) AS dom,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup
    FROM events GROUP BY day(ts)
    """,
)
def rel_pivot_events(spark, sf_dir):
    """Pivot coverage: events per day-of-month × type."""
    ev = _read(spark, sf_dir, "events")
    out = (
        ev.groupBy(F.dayofmonth("ts").alias("dom"))
        .pivot("event_type", ["click", "view", "purchase", "error", "signup"])
        .count()
    )
    # pivot leaves missing combinations null; oracle FILTER counts give 0
    return out.select(
        "dom", *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in out.columns if c != "dom"]
    )


@_q(
    "rel_events_zscore",
    """
    WITH stats AS (
        SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND((e.value - s.mu) / s.sigma, 4) AS z
    FROM events e JOIN stats s ON s.event_type = e.event_type
    WHERE ABS((e.value - s.mu) / s.sigma) > 2.5
    """,
)
def rel_events_zscore(spark, sf_dir):
    """Anomaly flagging: per-type z-score over the stream table — the
    batch twin of a streaming quality monitor."""
    ev = _read(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 2.5)
        .select("event_id", "event_type", F.round(z, 4).alias("z"))
    )


@_q(
    "rel_events_rollup_multires",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CASE WHEN GROUPING(date_trunc('hour', ts)) = 0
                THEN strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') END AS hour,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY ROLLUP(date_trunc('day', ts), date_trunc('hour', ts))
    HAVING GROUPING(date_trunc('day', ts)) = 0
    """,
)
def rel_events_rollup_multires(spark, sf_dir):
    """Hypertable-style continuous-aggregate shape: one pass produces the
    hourly aggregate AND its daily rollup (time-hierarchy ROLLUP grouping
    sets — partial aggregation feeds both resolutions, no second scan).
    The grand-total row is dropped (HAVING on GROUPING) to keep the
    day→hour hierarchy."""
    ev = _read(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    hour = F.date_trunc("hour", "ts")
    out = ev.rollup(day.alias("__day"), hour.alias("__hour")).agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value")
    )
    # date_trunc never yields null on real rows, so a null __day IS the
    # grand-total grouping row — drop it to keep the day→hour hierarchy
    return out.filter(F.col("__day").isNotNull()).select(
        F.date_format("__day", "yyyy-MM-dd").alias("day"),
        F.date_format("__hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "n_events",
        "total_value",
    )


@_q(
    "rel_asof_last_purchase",
    """
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts, MAX(value) AS pvalue
          FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
    SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts_s,
           ROUND(p.pvalue, 2) AS last_purchase_value
    FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def rel_asof_last_purchase(spark, sf_dir):
    """AS-OF join (events enrichment): every click picks the user's
    latest purchase at-or-before it — the union-and-window formulation
    (one key shuffle + sorted window, never a per-row inequality nested
    loop); DuckDB's native ASOF LEFT JOIN is the oracle. Purchases are
    pre-aggregated per (user, ts) so the carried value is deterministic."""
    from jasminegraph_spark.operators import as_of_join

    ev = _read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    joined = as_of_join(
        clicks, purchases, on=["user_id"], left_time="ts", right_time="ts",
        value_cols=["pvalue"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.date_format("ts_asof", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts_s"),
        F.round("pvalue_asof", 2).alias("last_purchase_value"),
    )


@_q(
    "rel_interval_join_busy_hours",
    """
    WITH busy AS (
        SELECT date_trunc('hour', ts) AS start, COUNT(*) AS c
        FROM events GROUP BY 1 ORDER BY c DESC, start ASC LIMIT 10
    ),
    iv AS (SELECT start, start + INTERVAL 2 HOUR AS iend FROM busy)
    SELECT strftime(iv.start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           ROUND(SUM(e.value), 2) AS total_value
    FROM iv JOIN events e ON e.ts >= iv.start AND e.ts < iv.iend
    GROUP BY iv.start ORDER BY window_start
    """,
)
def rel_interval_join_busy_hours(spark, sf_dir):
    """Pure-inequality INTERVAL JOIN (no equi key): the 10 busiest hours
    become 2-hour windows; every event falling in a window joins it.
    Naive Spark plans this as BroadcastNestedLoopJoin — the operator
    (operators/temporal.interval_join) decomposes it into a bucketed hash
    equi-join (points take one bucket, intervals explode over covered
    buckets, exact range as a residual filter), so both sides shuffle-
    partition cleanly at 100 TB. DuckDB's native range join is the
    oracle. Plan-asserted BNLJ-free in tests/test_plans.py."""
    from jasminegraph_spark.operators.temporal import interval_join

    ev = _read(spark, sf_dir, "events")
    busy = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("start"))
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("start"))
        .limit(10)
    )
    iv = busy.select(
        "start", (F.col("start") + F.expr("INTERVAL 2 HOURS")).alias("iend")
    )
    joined = interval_join(
        ev.select("ts", "user_id", "value"), iv,
        point_time="ts", start_col="start", end_col="iend",
        bucket_seconds=3600,
    )
    return (
        joined.groupBy("start")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "n_users",
            "total_value",
        )
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline operators (dedup / similarity / text)
# ---------------------------------------------------------------------------

_SHINGLE_CTE = """
WITH sh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, length(text) - 6), i -> substr(text, i, 8))) AS shingle
    FROM documents WHERE length(text) >= 8
)
"""


_SUBSTR_K, _SUBSTR_MIN_SPAN, _SUBSTR_CAP = 8, 10, 256


@_q(
    "pl_substring_spans",
    f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(t[i:i+{_SUBSTR_K - 1}], ' ')) AS h
        FROM toks, UNNEST(range(1, len(t) - {_SUBSTR_K} + 2)) AS u(i)
        WHERE len(t) >= {_SUBSTR_K}
    ),
    rare AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) <= {_SUBSTR_CAP}),
    shc AS (SELECT sh.* FROM sh JOIN rare USING (h)),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.pos - b.pos AS off, a.pos AS pos_a
        FROM shc a JOIN shc b USING (h) WHERE a.doc_id < b.doc_id
    ),
    r AS (
        SELECT id_a, id_b, off,
               pos_a - ROW_NUMBER() OVER (
                   PARTITION BY id_a, id_b, off ORDER BY pos_a) AS grp
        FROM p
    ),
    runs AS (
        SELECT id_a, id_b, off, grp, COUNT(*) + {_SUBSTR_K - 1} AS span
        FROM r GROUP BY id_a, id_b, off, grp
    )
    SELECT id_a, id_b, CAST(MAX(span) AS INT) AS max_span_tokens,
           COUNT(*) AS n_spans
    FROM runs WHERE span >= {_SUBSTR_MIN_SPAN}
    GROUP BY id_a, id_b ORDER BY id_a, id_b
    """,
)
def pl_substring_spans(spark, sf_dir):
    """Exact-substring duplicate spans (pipeline/dedup.substring_
    duplicate_spans — the Lee et al. ACL'22 exact-substring criterion,
    re-expressed as positional-shingle hash join + islands-trick run
    recovery instead of the paper's single-machine suffix array).
    Frequency-capped shingles bound the join; the oracle runs the
    identical construction in SQL, so span lengths and counts
    hash-match exactly."""
    out = pl.substring_duplicate_spans(
        _read(spark, sf_dir, "documents"),
        k=_SUBSTR_K,
        min_span=_SUBSTR_MIN_SPAN,
        max_shingle_frequency=_SUBSTR_CAP,
    )
    return out.orderBy("id_a", "id_b")


@_q(
    "pl_line_dedup",
    """
    WITH chunked AS (
        SELECT doc_id,
               array_to_string(
                   list_transform(
                       range(CAST(ceil(len(string_split(text, ' ')) / 6.0) AS INT)),
                       i -> array_to_string(
                           (string_split(text, ' '))[(i * 6 + 1):(i * 6 + 6)], ' ')),
                   chr(10)) AS text
        FROM documents
    ),
    lines AS (
        SELECT doc_id,
               unnest(string_split(text, chr(10))) AS line,
               generate_subscripts(string_split(text, chr(10)), 1) AS pos
        FROM chunked
    ),
    counts AS (
        SELECT line, COUNT(DISTINCT doc_id) AS n_docs FROM lines GROUP BY line
    ),
    kept AS (
        SELECT l.doc_id, l.pos, l.line
        FROM lines l JOIN counts c ON c.line = l.line
        WHERE c.n_docs < 2
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id)
    SELECT t.doc_id,
           md5(COALESCE(string_agg(k.line, chr(10) ORDER BY k.pos), '')) AS clean_hash,
           CAST(COUNT(k.line) AS BIGINT) AS n_kept,
           CAST(t.n_lines - COUNT(k.line) AS BIGINT) AS n_removed
    FROM tot t LEFT JOIN kept k ON k.doc_id = t.doc_id
    GROUP BY t.doc_id, t.n_lines
    ORDER BY t.doc_id
    """,
)
def pl_line_dedup(spark, sf_dir):
    """Line-level exact dedup (C4/RefinedWeb boilerplate-line removal,
    pipeline/dedup.line_dedup): drop every line occurring in ≥2 distinct
    docs, reassemble survivors in order. The corpus ships without
    newlines, so the query first chunks each text into 6-word
    pseudo-lines with pure expressions (split → transform/slice →
    array_join) — the dedup plan (posexplode → line-hash count → join
    back → ordered reassembly) is exactly what runs on real newline
    corpora at 100 TB. Output carries md5(clean_text) so the full
    reassembled text is verified without shipping it."""
    docs = _read(spark, sf_dir, "documents")
    arr = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(arr) / F.lit(6.0)).cast("int")
    chunked = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_chunks - F.lit(1)),
                lambda i: F.array_join(F.slice(arr, i * F.lit(6) + F.lit(1), F.lit(6)), " "),
            ),
            "\n",
        ).alias("text"),
    )
    out = pl.line_dedup(chunked, min_docs=2)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_hash"),
        "n_kept",
        "n_removed",
    ).orderBy("doc_id")


@_q(
    "pl_unigram_logprob",
    """
    WITH toks AS MATERIALIZED (
        SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents
        ) WHERE tok <> ''
    ),
    total AS (SELECT COUNT(*) AS n FROM toks),
    freqs AS (
        SELECT tok, ln(CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM total)) AS lp
        FROM toks GROUP BY tok
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(AVG(f.lp), 6) AS avg_logprob
    FROM toks t JOIN freqs f ON f.tok = t.tok
    GROUP BY t.doc_id ORDER BY t.doc_id
    """,
)
def pl_unigram_logprob(spark, sf_dir):
    """Perplexity-proxy quality scoring (pipeline/text.unigram_logprob):
    mean unigram log-probability of each doc under the corpus's own
    unigram distribution — the cheap KenLM-style quality filter. Two
    passes (corpus frequency table, then a re-join + per-doc average);
    the frequency table broadcasts at scale. Every in-corpus token is in
    the vocab here (vocab << vocab_max), so the OOV floor path is
    exercised in pytest instead."""
    # spread=False: one tokenize + two partial aggs — the exchange costs
    # more than it parallelizes (1.51 vs 0.89 s at sf0.1, _read docstring)
    docs = _read(spark, sf_dir, "documents", spread=False)
    out = pl.unigram_logprob(docs)
    return out.select(
        "doc_id", "n_tokens", F.round("avg_logprob", 6).alias("avg_logprob")
    ).orderBy("doc_id")


@_q(
    "pl_chunk_documents",
    """
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
    ),
    c AS (
        SELECT doc_id, toks,
               unnest(range(GREATEST(
                   CAST(ceil((len(toks) - 16) / 48.0) AS INT), 1))) AS chunk_id
        FROM t
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           md5(array_to_string(
               toks[(chunk_id * 48 + 1):(chunk_id * 48 + 64)], ' ')) AS chunk_hash,
           CAST(LEAST(len(toks) - chunk_id * 48, 64) AS INT) AS n_tokens
    FROM c ORDER BY doc_id, chunk_id
    """,
)
def pl_chunk_documents(spark, sf_dir):
    """RAG/long-context document chunking (pipeline/packing.
    chunk_documents): 64-token windows advancing by 48 (16-token
    overlap), tail kept. Pure map-side expressions — one scan chunks the
    corpus, no shuffle, no UDF; chunk text verified by md5 so the full
    window content is checked without shipping it."""
    docs = _read(spark, sf_dir, "documents")
    out = pl.chunk_documents(docs, chunk_tokens=64, overlap=16)
    return out.select(
        "doc_id",
        "chunk_id",
        F.md5("chunk_text").alias("chunk_hash"),
        "n_tokens",
    ).orderBy("doc_id", "chunk_id")


@_q(
    "pl_bm25_topk",
    """
    WITH toks AS MATERIALIZED (
        SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents
        ) WHERE tok <> ''
    ),
    lens AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM lens),
    tf AS MATERIALIZED (
        SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        WHERE tok IN ('merge', 'stream', 'window') GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
    idf AS (
        SELECT d.tok,
               ln((s.n_docs - d.df + CAST(0.5 AS DOUBLE))
                  / (d.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS idf
        FROM dfreq d, stats s
    ),
    scored AS (
        SELECT t.doc_id,
               i.idf * (t.tf * CAST(2.2 AS DOUBLE))
               / (t.tf + CAST(1.2 AS DOUBLE)
                  * (CAST(0.25 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE) * l.dl / s.avgdl)) AS sc
        FROM tf t JOIN idf i ON i.tok = t.tok
        JOIN lens l ON l.doc_id = t.doc_id, stats s
    )
    SELECT doc_id, COUNT(*) AS n_matched,
           printf('%.6f', SUM(sc)) AS score
    FROM scored GROUP BY doc_id
    ORDER BY SUM(sc) DESC, doc_id LIMIT 20
    """,
)
def pl_bm25_topk(spark, sf_dir):
    """BM25 keyword retrieval (pipeline/text.bm25_topk) for the query
    {merge, stream, window} — the lexical retrieval half of a RAG stack
    next to the dense ANN family. Token explode is filtered to the query
    terms at the scan; df/idf is a |terms|-row broadcast; top-20 is a
    TakeOrdered. %.6f score strings per the float-parity rule."""
    docs = _read(spark, sf_dir, "documents")
    out = pl.bm25_topk(docs, ["merge", "stream", "window"], k=20)
    return out.select(
        "doc_id", "n_matched", F.format_string("%.6f", F.col("score")).alias("score")
    )


@_q(
    "pl_hybrid_rrf",
    """
    WITH toks AS MATERIALIZED (
        SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents
        ) WHERE tok <> ''
    ),
    lens AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM lens),
    tf AS MATERIALIZED (
        SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        WHERE tok IN ('merge', 'stream', 'window') GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
    idf AS (
        SELECT d.tok,
               ln((s.n_docs - d.df + CAST(0.5 AS DOUBLE))
                  / (d.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS idf
        FROM dfreq d, stats s
    ),
    bscored AS (
        SELECT t.doc_id,
               i.idf * (t.tf * CAST(2.2 AS DOUBLE))
               / (t.tf + CAST(1.2 AS DOUBLE)
                  * (CAST(0.25 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE) * l.dl / s.avgdl)) AS sc
        FROM tf t JOIN idf i ON i.tok = t.tok
        JOIN lens l ON l.doc_id = t.doc_id, stats s
    ),
    lexagg AS (SELECT doc_id, SUM(sc) AS s FROM bscored GROUP BY doc_id),
    lex AS (
        SELECT doc_id, rank FROM (
            SELECT doc_id, CAST(ROW_NUMBER() OVER (
                ORDER BY s DESC, doc_id ASC) AS INT) AS rank
            FROM lexagg
        ) WHERE rank <= 50
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    dscored AS (
        SELECT e.vec_id AS doc_id,
               ROUND(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                     CAST(e.embedding AS DOUBLE[])), 6) AS cosine
        FROM embeddings e, q WHERE e.vec_id <> 0
    ),
    dense AS (
        SELECT doc_id, rank FROM (
            SELECT doc_id, CAST(ROW_NUMBER() OVER (
                ORDER BY cosine DESC, doc_id ASC) AS INT) AS rank
            FROM dscored
        ) WHERE rank <= 50
    ),
    fused AS (
        SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) AS rr FROM lex
        UNION ALL
        SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) AS rr FROM dense
    )
    SELECT doc_id, COUNT(*) AS n_lists, printf('%.6f', SUM(rr)) AS rrf_score
    FROM fused GROUP BY doc_id
    ORDER BY SUM(rr) DESC, doc_id LIMIT 10
    """,
)
def pl_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval (pipeline/similarity.rrf_fuse): BM25 top-50 for
    {merge, stream, window} fused with dense cosine top-50 around doc 0's
    embedding via reciprocal-rank fusion (c=60) — the standard RAG
    hybrid-search combiner, no score calibration needed. Both input
    lists are bounded, so fusion cost is independent of corpus size."""
    from pyspark.sql.window import Window as _W

    docs = _read(spark, sf_dir, "documents")
    emb = _read(spark, sf_dir, "embeddings")
    lex = pl.bm25_topk(docs, ["merge", "stream", "window"], k=50).withColumn(
        "rank",
        F.row_number().over(_W.orderBy(F.desc("score"), F.asc("doc_id"))).cast("int"),
    )
    dense = pl.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=50).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    fused = pl.rrf_fuse([lex.select("doc_id", "rank"), dense], k=10)
    return fused.select(
        "doc_id",
        "n_lists",
        F.format_string("%.6f", F.col("rrf_score")).alias("rrf_score"),
    )


@_q(
    "pl_graphrag_retrieve",
    """
    WITH toks AS MATERIALIZED (
        SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents
        ) WHERE tok <> ''
    ),
    lens AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM lens),
    tf AS MATERIALIZED (
        SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        WHERE tok IN ('merge', 'stream', 'window') GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
    idf AS (
        SELECT d.tok,
               ln((s.n_docs - d.df + CAST(0.5 AS DOUBLE))
                  / (d.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS idf
        FROM dfreq d, stats s
    ),
    bscored AS (
        SELECT t.doc_id,
               i.idf * (t.tf * CAST(2.2 AS DOUBLE))
               / (t.tf + CAST(1.2 AS DOUBLE)
                  * (CAST(0.25 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE) * l.dl / s.avgdl)) AS sc
        FROM tf t JOIN idf i ON i.tok = t.tok
        JOIN lens l ON l.doc_id = t.doc_id, stats s
    ),
    lexagg AS (SELECT doc_id, SUM(sc) AS s FROM bscored GROUP BY doc_id),
    lex AS (
        SELECT doc_id, rank FROM (
            SELECT doc_id, CAST(ROW_NUMBER() OVER (
                ORDER BY s DESC, doc_id ASC) AS INT) AS rank
            FROM lexagg
        ) WHERE rank <= 50
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    dscored AS (
        SELECT e.vec_id AS doc_id,
               ROUND(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                     CAST(e.embedding AS DOUBLE[])), 6) AS cosine
        FROM embeddings e, q WHERE e.vec_id <> 0
    ),
    dense AS (
        SELECT doc_id, rank FROM (
            SELECT doc_id, CAST(ROW_NUMBER() OVER (
                ORDER BY cosine DESC, doc_id ASC) AS INT) AS rank
            FROM dscored
        ) WHERE rank <= 50
    ),
    fused AS (
        SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) AS rr FROM lex
        UNION ALL
        SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) AS rr FROM dense
    ),
    topd AS (
        SELECT doc_id FROM fused GROUP BY doc_id
        ORDER BY SUM(rr) DESC, doc_id LIMIT 10
    ),
    trip AS MATERIALIZED (
        SELECT doc_id,
               split_part(t, ' ', 1) AS s,
               split_part(t, ' ', 2) AS p,
               split_part(t, ' ', 3) AS o
        FROM (
            SELECT doc_id,
                   unnest(regexp_extract_all(text, '[a-z]+ [a-z]+ [a-z]+')) AS t
            FROM documents
        )
    ),
    seeds AS (
        SELECT DISTINCT s AS entity FROM trip
        WHERE doc_id IN (SELECT doc_id FROM topd)
        UNION
        SELECT DISTINCT o FROM trip
        WHERE doc_id IN (SELECT doc_id FROM topd)
    ),
    kg AS (
        SELECT s, p, o, COUNT(*) AS weight FROM trip
        GROUP BY s, p, o HAVING COUNT(*) >= 2
    )
    SELECT s, p, o, CAST(weight AS BIGINT) AS weight FROM kg
    WHERE s IN (SELECT entity FROM seeds)
    ORDER BY weight DESC, s, p, o LIMIT 50
    """,
)
def pl_graphrag_retrieve(spark, sf_dir):
    """GraphRAG retrieval, end-to-end (the reference's graphRAG flagship,
    tests/integration/graphRAG): hybrid BM25+dense retrieval (RRF) picks
    the top-10 context documents; their KG triples seed an entity set;
    the corpus knowledge graph (weight ≥ 2 evidence) expands one hop from
    those seeds into the context subgraph a generator would be prompted
    with.

    Scale shape: retrieval lists are bounded (top-50 each) so fusion is
    corpus-size-independent; the 10-doc seed and its entity set are tiny
    and BROADCAST against the full triple table — the only corpus-scale
    passes are the token/triple extractions, both single explode +
    partial-agg groupBy pipelines."""
    from pyspark.sql.window import Window as _W

    # spread=False on documents (r12, VERDICT r11 ask #6): both corpus
    # passes here are single explode + partial-agg pipelines feeding
    # bounded retrieval lists — the spread exchanges of the text column
    # cost more than they parallelize (3.52 vs 2.15 s at sf0.1, _read
    # docstring); embeddings keeps its table default.
    docs = _read(spark, sf_dir, "documents", spread=False)
    emb = _read(spark, sf_dir, "embeddings")
    lex = pl.bm25_topk(docs, ["merge", "stream", "window"], k=50).withColumn(
        "rank",
        F.row_number().over(_W.orderBy(F.desc("score"), F.asc("doc_id"))).cast("int"),
    )
    dense = pl.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=50).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    top_docs = pl.rrf_fuse(
        [lex.select("doc_id", "rank"), dense], k=10
    ).select("doc_id")
    triples = pl.extract_triples(docs)
    hits = triples.join(F.broadcast(top_docs), "doc_id")
    seeds = (
        hits.select(F.col("s").alias("entity"))
        .union(hits.select(F.col("o").alias("entity")))
        .distinct()
    )
    kg = pl.triple_weights(triples).filter(F.col("weight") >= 2)
    return (
        kg.join(F.broadcast(seeds.withColumnRenamed("entity", "s")), "s")
        .select("s", "p", "o", F.col("weight").cast("long").alias("weight"))
        .orderBy(F.desc("weight"), "s", "p", "o")
        .limit(50)
    )


@_q(
    "pl_pca_project2d",
    """
    WITH pts AS (
        SELECT vec_id,
               CAST(embedding[1] AS DOUBLE) AS x,
               CAST(embedding[2] AS DOUBLE) AS y
        FROM embeddings
    ),
    stats AS (
        SELECT avg(x) AS mx, avg(y) AS my,
               var_pop(x) AS a, covar_pop(x, y) AS b, var_pop(y) AS c
        FROM pts
    ),
    eig AS (
        SELECT mx, my, a, b,
               (a + c) / 2 + sqrt(((a - c) / 2) * ((a - c) / 2) + b * b) AS lam,
               c
        FROM stats
    ),
    vec AS (
        SELECT mx, my,
               CASE WHEN b = 0 THEN (CASE WHEN a >= c THEN 1.0 ELSE 0.0 END)
                    ELSE b / sqrt(b * b + (lam - a) * (lam - a)) END AS u1,
               CASE WHEN b = 0 THEN (CASE WHEN a >= c THEN 0.0 ELSE 1.0 END)
                    ELSE (lam - a) / sqrt(b * b + (lam - a) * (lam - a)) END AS u2
        FROM eig
    ),
    sv AS (
        SELECT mx, my,
               (CASE WHEN abs(u1) >= abs(u2)
                     THEN (CASE WHEN u1 < 0 THEN -1.0 ELSE 1.0 END)
                     ELSE (CASE WHEN u2 < 0 THEN -1.0 ELSE 1.0 END) END) * u1 AS u1,
               (CASE WHEN abs(u1) >= abs(u2)
                     THEN (CASE WHEN u1 < 0 THEN -1.0 ELSE 1.0 END)
                     ELSE (CASE WHEN u2 < 0 THEN -1.0 ELSE 1.0 END) END) * u2 AS u2
        FROM vec
    )
    SELECT p.vec_id,
           printf('%.6f', ROUND((p.x - s.mx) * s.u1 + (p.y - s.my) * s.u2, 6)) AS pc1
    FROM pts p, sv s
    ORDER BY p.vec_id
    """,
)
def pl_pca_project2d(spark, sf_dir):
    """PCA projection with a CLOSED-FORM oracle (replaces the retired
    rows-only pl_pca_project — registry changelog SURVEY §2.8): project
    the 2-d slice (embedding[0], embedding[1]) onto its top principal
    component through the SAME distributed path as the full-d operator
    (pipeline/similarity.pca_project: mapInPandas partial-Gram → groupBy
    → driver eigh → expression-only projection pass), while DuckDB
    computes the 2×2 eigenvector analytically — λ₁ = (a+c)/2 +
    √(((a−c)/2)² + b²), v = (b, λ₁−a) normalized, sign-fixed by the
    largest-|coefficient| rule both sides. Full-d (d=64, k=8) numpy
    parity stays asserted in tests/test_similarity.py; trace invariants
    stay driver-checked via pl_pca_invariants."""
    emb = _read(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.array(
            F.col("embedding")[0].cast("double"),
            F.col("embedding")[1].cast("double"),
        ).alias("xy"),
    )
    projected, _info = pl.pca_project(pts, n_components=1, id_col="vec_id", vec_col="xy")
    return projected.select(
        "vec_id",
        F.format_string("%.6f", F.round(F.col("pca")[0], 6)).alias("pc1"),
    ).orderBy("vec_id")


@_q(
    "pl_pca_invariants",
    """
    WITH x AS (
        SELECT unnest(CAST(embedding AS DOUBLE[])) AS v,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    per_dim AS (SELECT i, var_pop(v) AS var_i, COUNT(*) AS n FROM x GROUP BY i)
    SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS INT) AS dim,
           ROUND(SUM(var_i), 6) AS trace
    FROM per_dim
    """,
)
def pl_pca_invariants(spark, sf_dir):
    """Hard driver evidence for the PCA eigensolver: trace(cov) computed
    via the distributed partial-Gram + numpy.eigh (sum of ALL eigenvalues,
    basis-invariant) must hash-match DuckDB's direct Σ var_pop(x_i) over
    the raw embeddings. Validates the mapInPandas Gram reduction, the mean
    centering, and the eigendecomposition — the pieces pl_pca_project's
    rows-only check can't pin to an oracle."""
    emb = _read(spark, sf_dir, "embeddings")
    return pl.pca_invariants(emb)


@_q(
    "pl_embedding_hygiene",
    """
    WITH base AS MATERIALIZED (
        SELECT vec_id, len(embedding) AS dim,
               sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                    x -> x * x))) AS norm,
               list_count(list_filter(CAST(embedding AS DOUBLE[]),
                    x -> x IS NULL OR isnan(x) OR abs(x) > 1e308)) > 0 AS bad_vals
        FROM embeddings
    ),
    med AS (SELECT quantile_cont(norm, 0.5) AS med FROM base WHERE NOT bad_vals),
    madt AS (
        SELECT quantile_cont(abs(b.norm - m.med), 0.5) AS mad, ANY_VALUE(m.med) AS med
        FROM base b, med m WHERE NOT b.bad_vals
    )
    SELECT b.vec_id, CAST(b.dim AS INT) AS dim,
           printf('%.6f', ROUND(b.norm, 6)) AS norm,
           CASE WHEN b.dim <> 64 THEN 'bad_dim'
                WHEN b.bad_vals THEN 'non_finite'
                WHEN b.norm = 0 THEN 'zero_norm'
                WHEN CASE WHEN m.mad > 0
                          THEN abs(b.norm - m.med)
                               / (CAST(1.4826 AS DOUBLE) * m.mad) > 4.0
                          ELSE abs(b.norm - m.med)
                               > CAST(0.01 AS DOUBLE) * m.med END
                     THEN 'norm_outlier'
                ELSE 'ok' END AS flag
    FROM base b, madt m ORDER BY b.vec_id
    """,
)
def pl_embedding_hygiene(spark, sf_dir):
    """Vector-hygiene gate before ANN/index builds (pipeline/similarity.
    embedding_hygiene): per-vector dimension/finite/zero-norm checks plus
    a robust norm-outlier flag (4 MAD-z from the median norm). Map-side
    expressions + one exact-percentile pass broadcast back; %.6f norms
    per the float-parity rule."""
    emb = _read(spark, sf_dir, "embeddings")
    out = pl.embedding_hygiene(emb, expected_dim=64, norm_z_threshold=4.0)
    return out.select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        F.format_string("%.6f", F.col("norm")).alias("norm"),
        "flag",
    ).orderBy("vec_id")


@_q(
    "pl_vocab_coverage",
    """
    WITH toks AS MATERIALIZED (
        SELECT tok FROM (
            SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents
        ) WHERE tok <> ''
    ),
    counts AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
    total AS (SELECT COUNT(*) AS t FROM toks),
    top AS (
        SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS rank
        FROM counts ORDER BY n DESC, tok ASC LIMIT 20
    )
    SELECT CAST(rank AS INT) AS rank, tok AS token, n AS n_occurrences,
           printf('%.6f',
               SUM(n) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING)
               / CAST(total.t AS DOUBLE)) AS cum_coverage
    FROM top, total ORDER BY rank
    """,
)
def pl_vocab_coverage(spark, sf_dir):
    """Tokenizer-prep vocab coverage curve (pipeline/text.vocab_coverage):
    top-20 tokens with cumulative corpus coverage — the report that sizes
    a tokenizer vocabulary. The cumsum window runs over the top-V rows
    only, never the corpus."""
    docs = _read(spark, sf_dir, "documents")
    out = pl.vocab_coverage(docs, top_v=20)
    return out.select(
        "rank",
        "token",
        "n_occurrences",
        F.format_string("%.6f", F.col("cum_coverage")).alias("cum_coverage"),
    ).orderBy("rank")


@_q(
    "pl_dataset_card",
    """
    WITH base AS (
        SELECT doc_id, text, lang, source, n_chars,
               md5(text) AS h,
               len(string_split_regex(trim(text), '\\s+')) AS n_tokens
        FROM documents
    ),
    langs AS (
        SELECT lang, COUNT(*) AS n FROM base GROUP BY lang
    ),
    dup AS (
        SELECT COUNT(*) - COUNT(DISTINCT h) AS n_dup_docs, COUNT(*) AS n FROM base
    )
    SELECT (SELECT COUNT(*) FROM base) AS n_docs,
           (SELECT COUNT(DISTINCT source) FROM base) AS n_sources,
           (SELECT COUNT(*) FROM langs) AS n_langs,
           (SELECT CAST(SUM(n_chars) AS BIGINT) FROM base) AS total_chars,
           (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM base) AS total_tokens,
           printf('%.6f', (SELECT CAST(n_dup_docs AS DOUBLE) / n FROM dup))
               AS exact_dup_rate,
           printf('%.6f', (SELECT -SUM((CAST(n AS DOUBLE) / t.total)
               * ln(CAST(n AS DOUBLE) / t.total))
               FROM langs, (SELECT SUM(n) AS total FROM langs) t))
               AS lang_entropy
    """,
)
def pl_dataset_card(spark, sf_dir):
    """Dataset-card summary: the one-row corpus report a data release
    ships — size, source/language breadth, exact-duplicate rate, and
    language entropy (mix balance). Composes the existing signals in ONE
    aggregation pass over the corpus plus two tiny grouped frames."""
    docs = _read(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "lang", "source", "n_chars",
        F.md5("text").alias("h"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    totals = base.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (
            (F.count("*") - F.countDistinct("h")).cast("double") / F.count("*")
        ).alias("exact_dup_rate"),
    )
    langs = base.groupBy("lang").agg(F.count("*").alias("n"))
    total = langs.agg(F.sum("n").alias("t"))
    entropy = (
        langs.crossJoin(F.broadcast(total))
        .select(
            (
                -(F.col("n").cast("double") / F.col("t"))
                * F.log(F.col("n").cast("double") / F.col("t"))
            ).alias("e")
        )
        .agg(F.sum("e").alias("lang_entropy"))
    )
    return totals.crossJoin(F.broadcast(entropy)).select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_chars",
        "total_tokens",
        F.format_string("%.6f", F.col("exact_dup_rate")).alias("exact_dup_rate"),
        F.format_string("%.6f", F.col("lang_entropy")).alias("lang_entropy"),
    )


@_q(
    "pl_sampled_quantiles",
    """
    WITH sample AS (
        SELECT o_totalprice FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '1999'
    ),
    agg AS (
        SELECT COUNT(*) AS n_sampled,
               quantile_cont(o_totalprice, 0.25) AS q0,
               quantile_cont(o_totalprice, 0.5) AS q1,
               quantile_cont(o_totalprice, 0.75) AS q2,
               quantile_cont(o_totalprice, 0.9) AS q3
        FROM sample
    )
    SELECT 0.25 AS quantile, ROUND(q0, 4) AS value, n_sampled FROM agg
    UNION ALL SELECT 0.5, ROUND(q1, 4), n_sampled FROM agg
    UNION ALL SELECT 0.75, ROUND(q2, 4), n_sampled FROM agg
    UNION ALL SELECT 0.9, ROUND(q3, 4), n_sampled FROM agg
    ORDER BY quantile
    """,
)
def pl_sampled_quantiles(spark, sf_dir):
    """Deterministic hash-sampled quantiles (pipeline/sampling.
    sampled_quantiles, 10% sample keyed on o_orderkey): the 100 TB stats
    pattern — a content-hash sample replaces the global sort AND stays a
    pure function of the keys, so even the estimate oracle-checks
    (Spark percentile() and DuckDB quantile_cont share the interpolated
    definition)."""
    o = _read(spark, sf_dir, "orders")
    out = pl.sampled_quantiles(
        o, "o_totalprice", key_col="o_orderkey", sample_frac=0.1
    )
    return out.select(
        "quantile", F.round("value", 4).alias("value"), "n_sampled"
    ).orderBy("quantile")


@_q(
    "pl_skew_report",
    """
    WITH counts AS (
        SELECT CAST(l_partkey AS VARCHAR) AS key, COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_partkey
    ),
    stats AS (
        SELECT SUM(n_rows) AS total, AVG(CAST(n_rows AS DOUBLE)) AS mean,
               MAX(n_rows) AS mx
        FROM counts
    ),
    top AS (
        SELECT key, n_rows,
               ROW_NUMBER() OVER (ORDER BY n_rows DESC, key ASC) AS rank
        FROM counts ORDER BY n_rows DESC, key ASC LIMIT 10
    )
    SELECT CAST(rank AS INT) AS rank, key, n_rows,
           printf('%.6f', CAST(n_rows AS DOUBLE) / stats.total) AS share,
           printf('%.6f', CAST(stats.mx AS DOUBLE) / stats.mean) AS max_mean_ratio
    FROM top, stats ORDER BY rank
    """,
)
def pl_skew_report(spark, sf_dir):
    """Join-key skew diagnostics (pipeline/sampling.skew_report) for
    lineitem.l_partkey — the pre-shuffle report that decides salting /
    AQE-skew-join at 100 TB: top-10 heaviest keys, their share, and the
    table's max/mean ratio."""
    li = _read(spark, sf_dir, "lineitem")
    out = pl.skew_report(li, "l_partkey", top_k=10)
    return out.select(
        "rank",
        "key",
        "n_rows",
        F.format_string("%.6f", F.col("share")).alias("share"),
        F.format_string("%.6f", F.col("max_mean_ratio")).alias("max_mean_ratio"),
    ).orderBy("rank")


@_q(
    "pl_exact_dedup",
    """
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
    FROM documents GROUP BY md5(text)
    """,
)
def pl_exact_dedup(spark, sf_dir):
    # spread=False: one md5 per row is cheaper than the spread exchange
    # (0.54 vs 0.27 s at sf0.1, _read docstring)
    return pl.exact_dedup(_read(spark, sf_dir, "documents", spread=False))


@_q(
    "pl_ngram_jaccard_capped",
    _SHINGLE_CTE
    + """
    , rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 32),
    shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shf GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.4
    """,
)
def pl_ngram_jaccard_capped(spark, sf_dir):
    """Exact n-gram Jaccard with stop-shingle removal (doc-frequency cap
    32): the self-join cost is ≤ 32×|shingles| — linear in shingle volume,
    never quadratic in a data-dependent frequency. The unbounded exact
    variant survives as a test oracle only (tests/test_similarity.py);
    the shipped near-dup surface is pl_lsh_verified_dedup."""
    return pl.ngram_jaccard_pairs(
        _read(spark, sf_dir, "documents", by="doc_id"), k=8, threshold=0.4,
        max_doc_frequency=32,
    )


def _minhash_oracle(num_hashes: int = 16) -> str:
    # mirror of minhash_signatures: one md5 per shingle, 8-hex-char windows
    mins = ",\n           ".join(
        f"MIN(substr(md5(shingle), {i + 1}, 8)) AS mh{i}" for i in range(num_hashes)
    )
    return _SHINGLE_CTE + f"SELECT doc_id,\n           {mins}\n    FROM sh GROUP BY doc_id"


@_q("pl_minhash_signatures", _minhash_oracle(16))
def pl_minhash_signatures(spark, sf_dir):
    return pl.minhash_signatures(
        _read(spark, sf_dir, "documents", by="doc_id"), num_hashes=16, k=8
    )


def _lsh_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    rpb = num_hashes // bands
    band_selects = []
    for b in range(bands):
        cols = " || '|' || ".join(f"mh{b * rpb + r}" for r in range(rpb))
        band_selects.append(f"SELECT doc_id, {b} AS band, {cols} AS sig FROM sig")
    return (
        _minhash_oracle(num_hashes).replace("SELECT doc_id,", ", sig AS (SELECT doc_id,", 1).replace(
            "FROM sh GROUP BY doc_id", "FROM sh GROUP BY doc_id)"
        )
        + ", banded AS ("
        + " UNION ALL ".join(band_selects)
        + """)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    """
    )


@_q("pl_minhash_lsh", _lsh_oracle(16, 4))
def pl_minhash_lsh(spark, sf_dir):
    return pl.minhash_lsh_candidates(
        _read(spark, sf_dir, "documents", by="doc_id"), num_hashes=16, bands=4, k=8
    )


_LSH_TAIL = """
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    """


def _lsh_verified_oracle(num_hashes: int = 16, bands: int = 4, threshold: float = 0.4) -> str:
    """MinHash-LSH candidates → exact Jaccard verify, as one DuckDB query
    (the candidate CTE is the pl_minhash_lsh oracle verbatim)."""
    return _lsh_oracle(num_hashes, bands).replace(
        _LSH_TAIL,
        f"""
    , cand AS ({_LSH_TAIL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) >= {threshold}
    """,
    )


@_q("pl_lsh_verified_dedup", _lsh_verified_oracle(16, 4, 0.4))
def pl_lsh_verified_dedup(spark, sf_dir):
    """The composed near-dup scale path: LSH band buckets generate
    candidate pairs, exact n-gram Jaccard verifies ≥ 0.4 — every wide op
    linear in candidates (contrast pl_ngram_jaccard, the quadratic exact
    oracle kept for verification)."""
    return pl.jaccard_verified_dedup(
        _read(spark, sf_dir, "documents", by="doc_id"),
        num_hashes=16, bands=4, k=8, threshold=0.4,
    )


@_q(
    "pl_simhash",
    _SHINGLE_CTE
    + """
    , h AS (SELECT doc_id, md5(shingle) AS h FROM sh),
    votes AS (
        SELECT doc_id, j AS bit_pos,
               SUM(CASE WHEN (strpos('0123456789abcdef', substr(h, j, 1)) - 1) % 2 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM h, range(1, 17) t(j)
        GROUP BY doc_id, j
    )
    SELECT doc_id,
           string_agg(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY bit_pos) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def pl_simhash(spark, sf_dir):
    return pl.simhash_signatures(
        _read(spark, sf_dir, "documents", by="doc_id"), bits=16, k=8
    )


@_q(
    "cypher_named_path_length",
    TPCH_GRAPH_CTE
    + """
    , sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
    SELECT 'p:' || l_partkey AS id, 1 AS len FROM sp WHERE l_suppkey = 1
    UNION ALL
    SELECT 's:' || s2.l_suppkey, 2
    FROM sp s1 JOIN sp s2 ON s1.l_partkey = s2.l_partkey
    WHERE s1.l_suppkey = 1 AND s2.l_suppkey <> 1
    """,
)
def cypher_named_path_length(spark, sf_dir):
    """Named path binding over a variable-length pattern: length(p) is
    the per-row hop count (each union branch knows its hops statically);
    row multiplicity = one row per PATH (a co-supplier appears once per
    shared part), matching openCypher path semantics."""
    return _cy(
        spark,
        sf_dir,
        "MATCH p = (s:Supplier)-[:SUPPLIES*1..2]-(x) WHERE id(s) = 's:1' "
        "RETURN id(x) AS id, length(p) AS len",
    )


def _dedup_corpus_oracle(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.4, cc_rounds: int = 10
) -> str:
    """Survivors of end-to-end dedup: exact-dup edges ∪ LSH-verified
    Jaccard edges → hash-min label propagation (unrolled, self-loop
    single-reference recurrence) → drop non-representative members."""
    body = f"""
    , cand AS ({_LSH_TAIL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    ),
    near AS (
        SELECT id_a AS src, id_b AS dst
        FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6)
              >= {threshold}
    ),
    exact_g AS (
        SELECT md5(text) AS h, MIN(doc_id) AS keep FROM documents GROUP BY md5(text)
    ),
    exact_e AS (
        SELECT g.keep AS src, d.doc_id AS dst
        FROM documents d JOIN exact_g g ON md5(d.text) = g.h
        WHERE d.doc_id <> g.keep
    ),
    dedges AS MATERIALIZED (
        SELECT src, dst FROM exact_e UNION ALL SELECT src, dst FROM near
    ),
    adj AS MATERIALIZED (
        SELECT src AS u, dst AS v FROM dedges
        UNION ALL SELECT dst, src FROM dedges
        UNION ALL SELECT DISTINCT src, src FROM dedges
        UNION ALL SELECT DISTINCT dst, dst FROM dedges
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS component FROM adj)
    """
    for i in range(cc_rounds):
        body += f"""
    , l{i + 1} AS MATERIALIZED (
        SELECT a.u AS node, MIN(l.component) AS component
        FROM adj a JOIN l{i} l ON l.node = a.v GROUP BY a.u
    )"""
    body += f"""
    SELECT doc_id, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT node FROM l{cc_rounds} WHERE component <> node)
    """
    return _lsh_oracle(num_hashes, bands).replace(_LSH_TAIL, body)


@_q("pl_dedup_corpus", _dedup_corpus_oracle(16, 4, 0.4, 10))
def pl_dedup_corpus(spark, sf_dir):
    """End-to-end corpus dedup: exact + LSH-verified near-dup clusters
    collapse to one representative each (hash-min components over the
    dup graph — near-dup similarity is not transitive, so chains must
    cluster); returns the surviving documents."""
    return pl.dedup_corpus(
        _read(spark, sf_dir, "documents", by="doc_id"), num_hashes=16, bands=4,
        k=8, threshold=0.4, cc_rounds=10,
    ).select("doc_id", "n_chars")


def _simhash_near_dup_oracle(bits: int = 16, bands: int = 4, max_hamming: int = 3) -> str:
    r = bits // bands
    ham = " + ".join(
        f"CASE WHEN substr(sa.simhash, {i}, 1) <> substr(sb.simhash, {i}, 1) THEN 1 ELSE 0 END"
        for i in range(1, bits + 1)
    )
    return _SHINGLE_CTE + f"""
    , h AS (SELECT doc_id, md5(shingle) AS h FROM sh),
    votes AS (
        SELECT doc_id, j AS bit_pos,
               SUM(CASE WHEN (strpos('0123456789abcdef', substr(h, j, 1)) - 1) % 2 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM h, range(1, {bits + 1}) t(j)
        GROUP BY doc_id, j
    ),
    sig AS (
        SELECT doc_id,
               string_agg(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY bit_pos) AS simhash
        FROM votes GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, t.b AS band, substr(simhash, t.b * {r} + 1, {r}) AS bsig
        FROM sig, range(0, {bands}) t(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, ({ham}) AS hamming
    FROM cand
    JOIN sig sa ON sa.doc_id = id_a
    JOIN sig sb ON sb.doc_id = id_b
    WHERE ({ham}) <= {max_hamming}
    """


def _split_leakage_oracle() -> str:
    base = _simhash_near_dup_oracle(16, 4, 3)
    # wrap the near-dup final SELECT as a materialized CTE, then join the
    # content-hash split assignment on both pair sides
    marker = "    SELECT id_a, id_b, ("
    assert marker in base
    wrapped = base.replace(marker, "    , nd AS MATERIALIZED (\n    SELECT id_a, id_b, (", 1)
    return wrapped + """
    )
    , splits AS (
        SELECT doc_id,
               CASE WHEN substr(md5(text), 1, 4) < 'cccc' THEN 'train'
                    WHEN substr(md5(text), 1, 4) < 'e666' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT LEAST(pa.split, pb.split) AS split_a,
           GREATEST(pa.split, pb.split) AS split_b,
           COUNT(*) AS n_leaked_pairs
    FROM nd JOIN splits pa ON pa.doc_id = nd.id_a
    JOIN splits pb ON pb.doc_id = nd.id_b
    WHERE pa.split <> pb.split
    GROUP BY 1, 2 ORDER BY 1, 2
    """


@_q("pl_split_leakage", _split_leakage_oracle())
def pl_split_leakage(spark, sf_dir):
    """Cross-split near-duplicate LEAKAGE detection (eval integrity): a
    near-dup pair straddling train/val/test means the held-out metric is
    contaminated from within the corpus itself — the internal sibling of
    benchmark decontamination. Composes the pigeonhole-exact SimHash
    near-dup pairs with the content-hash split; reports leaked-pair
    counts per split pair."""
    docs = _read(spark, sf_dir, "documents")
    nd = pl.simhash_near_dup(docs, bits=16, k=8, bands=4, max_hamming=3)
    splits = pl.hash_split(docs).select("doc_id", "split")
    sa = splits.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_l"))
    sb = splits.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_r"))
    return (
        nd.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("split_l") != F.col("split_r"))
        .groupBy(
            F.least("split_l", "split_r").alias("split_a"),
            F.greatest("split_l", "split_r").alias("split_b"),
        )
        .agg(F.count("*").alias("n_leaked_pairs"))
        .orderBy("split_a", "split_b")
    )


@_q("pl_simhash_near_dup", _simhash_near_dup_oracle(16, 4, 3))

def pl_simhash_near_dup(spark, sf_dir):
    """SimHash near-dup pairs: banded signature buckets → exact Hamming
    verify ≤ 3. bands > max_hamming gives the pigeonhole 100%-recall
    guarantee (any pair within distance 3 shares a clean 4-bit band) —
    the deterministic sibling of the probabilistic MinHash/sign-LSH
    candidate generators."""
    return pl.simhash_near_dup(
        _read(spark, sf_dir, "documents", by="doc_id"), bits=16, k=8, bands=4,
        max_hamming=3,
    )


@_q(
    "pl_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6) AS cosine
        FROM embeddings e, q WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def pl_cosine_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pl.cosine_topk(emb, queries, k=5)


@_q(
    "pl_triplet_mining",
    """
    WITH a AS (SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS qv,
                      label AS a_label
               FROM embeddings WHERE vec_id < 40),
    scored AS (
        SELECT a.anchor_id, a.a_label, e.label AS n_label, e.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(a.qv, CAST(e.embedding AS DOUBLE[])), 6)
                   AS cos
        FROM embeddings e, a WHERE e.vec_id <> a.anchor_id
    )
    , ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY anchor_id, (a_label = n_label)
            ORDER BY cos DESC, neighbor_id DESC) AS rn
        FROM scored
    )
    SELECT anchor_id,
           MAX(CASE WHEN a_label = n_label AND rn = 1 THEN neighbor_id END) AS pos_id,
           MAX(CASE WHEN a_label = n_label AND rn = 1 THEN cos END) AS pos_cos,
           MAX(CASE WHEN a_label <> n_label AND rn = 1 THEN neighbor_id END) AS neg_id,
           MAX(CASE WHEN a_label <> n_label AND rn = 1 THEN cos END) AS neg_cos
    FROM ranked GROUP BY anchor_id ORDER BY anchor_id
    """,
)
def pl_triplet_mining(spark, sf_dir):
    """Contrastive triplet mining (pipeline/similarity.mine_triplets):
    hardest positive + hardest negative per anchor — the FaceNet-style
    training-pair generator for embedding models, broadcast-anchor /
    streamed-corpus (cosine_topk plan family). Struct-max argmax ties
    (rounded cosine, then id) mirror the oracle's arg_max pair key."""
    emb = _read(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 40)
    return pl.mine_triplets(emb, anchors).orderBy("anchor_id")


@_q(
    "pl_knn_classify",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
                      label AS true_label
               FROM embeddings WHERE vec_id % 97 = 0),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS nbr_label,
               ROUND(list_cosine_similarity(q.qv,
                     CAST(e.embedding AS DOUBLE[])), 6) AS cosine
        FROM embeddings e, q WHERE e.vec_id <> q.query_id
    ),
    nn AS (
        SELECT query_id, nbr_label FROM (
            SELECT query_id, nbr_label, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 5
    ),
    votes AS (
        SELECT query_id, nbr_label, COUNT(*) AS n_votes
        FROM nn GROUP BY query_id, nbr_label
    ),
    pred AS (
        SELECT query_id, nbr_label AS pred_label FROM (
            SELECT query_id, nbr_label, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY n_votes DESC, nbr_label ASC) AS rk
            FROM votes
        ) WHERE rk = 1
    )
    SELECT q.true_label, p.pred_label, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred p JOIN q ON q.query_id = p.query_id
    GROUP BY q.true_label, p.pred_label
    ORDER BY true_label, pred_label
    """,
)
def pl_knn_classify(spark, sf_dir):
    """k-NN label classification over the embedding corpus (the labeled
    application of the ANN stack): every 97th vector is a query; its
    5 nearest cosine neighbors vote a label (tie → min). Output is the
    confusion matrix (true_label, pred_label, n) — small, integral,
    deterministic. Query set broadcast; corpus streamed once."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    pred = pl.knn_classify(emb, queries, k=5)
    truth = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        pred.join(truth, "query_id")
        .groupBy("true_label", "pred_label")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("true_label", "pred_label")
    )


@_q(
    "pl_sq_ann",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ex AS (SELECT i AS pos, v[i] AS x
           FROM e, UNNEST(generate_series(1, len(v))) AS t(i)),
    mm AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY pos),
    cal AS (SELECT list(mn ORDER BY pos) AS mins, list(mx ORDER BY pos) AS maxs
            FROM mm),
    enc AS (SELECT vec_id, list_transform(generate_series(1, len(v)),
                i -> CASE WHEN maxs[i] = mins[i] THEN 0
                     ELSE CAST(round((v[i] - mins[i]) / (maxs[i] - mins[i]) * 255,
                               0) AS INT) END) AS code
            FROM e, cal),
    deq AS (SELECT vec_id, list_transform(generate_series(1, len(code)),
                i -> mins[i] + CAST(code[i] AS DOUBLE) / 255
                     * (maxs[i] - mins[i])) AS vhat
            FROM enc, cal),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 10),
    scored AS (SELECT q.query_id, d.vec_id AS neighbor_id,
                      ROUND(list_cosine_similarity(q.qv, d.vhat), 6) AS cosine
               FROM deq d, q WHERE d.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT)
            AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def pl_sq_ann(spark, sf_dir):
    """Scalar-quantized ANN (beyond-reference memory-scale path): the
    corpus lives int8-encoded (8× smaller than float64 — the form a
    100 TB embedding store actually ships), queries stay full-precision,
    cosine runs on the dequantized reconstruction. Same broadcast-query /
    one-corpus-pass plan as exact cosine_topk; quantization is a pure
    map against a broadcast per-dimension (min, max) calibration row."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pl.sq_ann(emb, queries, k=5)


@_q(
    "pl_lsh_ann",
    """
    WITH b AS (
        SELECT vec_id,
               array_to_string(list_transform(embedding[1:8],
                   x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket,
               embedding
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, bucket, embedding AS qv FROM b WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6) AS cosine
        FROM b e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def pl_lsh_ann(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pl.sign_lsh_ann(emb, queries, k=5, planes=8)


@_q(
    "pl_ivf_ann",
    """
    WITH cents AS (
        SELECT vec_id AS cell, embedding AS cv FROM embeddings
        ORDER BY vec_id ASC LIMIT 16
    ), assign AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                              CAST(c.cv AS DOUBLE[])) DESC,
                       c.cell ASC) AS rn
            FROM embeddings e, cents c
        ) WHERE rn = 1
    ), q AS (
        SELECT a.vec_id AS query_id, a.cell, e.embedding AS qv
        FROM assign a JOIN embeddings e USING (vec_id) WHERE a.vec_id < 10
    ), scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])), 6) AS cosine
        FROM embeddings e
        JOIN assign a ON a.vec_id = e.vec_id
        JOIN q ON q.cell = a.cell AND e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def pl_ivf_ann(spark, sf_dir):
    """IVF-bucketed ANN (nprobe=1): deterministic coarse quantizer, exact
    rank within the query's cell — the scale path next to brute force."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pl.ivf_ann(emb, queries, k=5, n_cells=16)


@_q(
    "pl_token_counts",
    """
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens,
           CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS INT)
               AS n_distinct_tokens
    FROM documents
    """,
)
def pl_token_counts(spark, sf_dir):
    return pl.token_counts(_read(spark, sf_dir, "documents"))


def _langid_oracle() -> str:
    from jasminegraph_spark.pipeline.text import LANG_MARKERS

    rows = " UNION ALL ".join(
        f"SELECT doc_id, '{lang}' AS lang, CAST(len(regexp_extract_all(text, '{rx}')) AS INT) AS score FROM documents"
        for lang, rx in sorted(LANG_MARKERS.items())
    )
    return f"""
    WITH scores AS ({rows})
    SELECT doc_id, lang AS lang_pred, score FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
        FROM scores
    ) WHERE rn = 1
    """


@_q("pl_language_id", _langid_oracle())
def pl_language_id(spark, sf_dir):
    return pl.language_id(_read(spark, sf_dir, "documents"))


@_q(
    "pl_quality_scores",
    """
    WITH base AS (
        SELECT doc_id,
               CAST(length(text) AS INT) AS n_chars,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens,
               CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS INT) AS n_distinct,
               CAST(length(trim(text)) - length(regexp_replace(trim(text), '\\s', '', 'g')) AS INT)
                   AS n_spaces
        FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
           CAST(n_chars - n_spaces AS DOUBLE) / n_tokens AS mean_token_len,
           CAST(n_distinct AS DOUBLE) / n_tokens * 0.5
                 + LEAST(n_tokens, 100) / 100.0 * 0.3
                 + LEAST(CAST(n_chars - n_spaces AS DOUBLE) / n_tokens, 10.0) / 10.0 * 0.2
               AS quality
    FROM base
    """,
)
def pl_quality_scores(spark, sf_dir):
    return pl.quality_scores(_read(spark, sf_dir, "documents"))


@_q(
    "pl_doc_fingerprint",
    _SHINGLE_CTE
    + """
    , hashes AS (
        SELECT doc_id, md5(shingle) AS h,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY md5(shingle)) AS rn
        FROM sh
    )
    SELECT doc_id, string_agg(h, ',' ORDER BY h) AS fingerprint
    FROM hashes WHERE rn <= 4 GROUP BY doc_id
    """,
)
def pl_doc_fingerprint(spark, sf_dir):
    return pl.doc_fingerprint(
        _read(spark, sf_dir, "documents", by="doc_id"), k=4, shingle_k=8
    )


@_q(
    "pl_semantic_dedup",
    """
    WITH cents AS (
        SELECT vec_id AS cell, embedding AS cv FROM embeddings
        ORDER BY vec_id ASC LIMIT 16
    ), assign AS (
        SELECT vec_id, cell, ROUND(sim, 6) AS cent_cos FROM (
            SELECT e.vec_id, c.cell,
                   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(c.cv AS DOUBLE[])) AS sim,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                              CAST(c.cv AS DOUBLE[])) DESC,
                       c.cell ASC) AS rn
            FROM embeddings e, cents c
        ) WHERE rn = 1
    ), dropped AS (
        SELECT DISTINCT x.vec_id
        FROM assign x
        JOIN embeddings ex ON ex.vec_id = x.vec_id
        JOIN assign y ON y.cell = x.cell AND y.vec_id <> x.vec_id
        JOIN embeddings ey ON ey.vec_id = y.vec_id
        WHERE ROUND(list_cosine_similarity(CAST(ex.embedding AS DOUBLE[]),
                                           CAST(ey.embedding AS DOUBLE[])), 6) >= 0.3
          AND (y.cent_cos < x.cent_cos
               OR (y.cent_cos = x.cent_cos AND y.vec_id < x.vec_id))
    )
    SELECT a.vec_id, a.cell, printf('%.6f', a.cent_cos) AS cent_cos,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep
    FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
    ORDER BY a.vec_id
    """,
)
def pl_semantic_dedup(spark, sf_dir):
    """SemDeDup semantic deduplication (Abbas et al., arXiv:2303.09540 —
    pipeline/similarity.semantic_dedup): cluster the embedding corpus
    (deterministic IVF codebook), within-cluster cosine pairs ≥ 0.3,
    keep the member farthest from its centroid per duplicate
    neighborhood (one-pass dominance, no transitive closure — fully
    SQL-replayable). Quadratic work confined to Σ|cell|²; centroids
    broadcast. The synthetic embeddings are near-random so the 0.3
    threshold is what exercises the drop path; the semantics, not the
    threshold, are the contract."""
    from jasminegraph_spark.pipeline import semantic_dedup

    out = semantic_dedup(
        _read(spark, sf_dir, "embeddings", by="vec_id"), threshold=0.3, n_cells=16
    )
    return out.select(
        "vec_id",
        "cell",
        F.format_string("%.6f", F.col("cent_cos")).alias("cent_cos"),
        F.col("keep").cast("int").alias("keep"),
    ).orderBy("vec_id")


@_q(
    "pl_embedding_near_dup",
    """
    WITH banded AS (
        SELECT vec_id, t.b AS band,
               array_to_string(list_transform(embedding[t.b * 4 + 1 : t.b * 4 + 4],
                   x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS sig
        FROM embeddings, range(0, 16) t(b)
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 6) AS cosine
    FROM cand
    JOIN embeddings ea ON ea.vec_id = id_a
    JOIN embeddings eb ON eb.vec_id = id_b
    WHERE ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                       CAST(eb.embedding AS DOUBLE[])), 6) >= 0.5
    """,
)
def pl_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (threshold 0.5): 16 bands of
    4-plane sign-LSH generate candidates via a uniform-key bucket
    equi-join, then exact cosine verifies — no all-pairs
    BroadcastNestedLoopJoin anywhere in the plan (that brute-force shape
    survives only as the recall oracle in tests/test_similarity.py). At a
    near-dup production threshold (τ≥0.9) fewer, wider bands shrink the
    buckets further — see banded_sign_buckets."""
    return pl.embedding_near_dup(
        _read(spark, sf_dir, "embeddings", by="vec_id"),
        threshold=0.5, planes_per_band=4, bands=16,
    )


_BPE_RX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


@_q(
    "pl_bpe_token_count",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_RX}')) AS INT) AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(text, '{_BPE_RX}'))) AS INT)
               AS n_distinct_bpe
    FROM documents
    """,
)
def pl_bpe_token_count(spark, sf_dir):
    """BPE-ish pre-tokenization count: alpha runs / digit runs / single
    punctuation (the regex family GPT-2-style tokenizers split on first).
    Pure regexp expressions, engine-portable."""
    docs = _read(spark, sf_dir, "documents")
    # F.lit avoids SQL-string backslash processing ('\s' would become 's')
    toks = F.regexp_extract_all("text", F.lit(_BPE_RX), F.lit(0))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_bpe"),
    )


@_q(
    "an_shortest_paths",
    CO_ORDER_CTE
    + """
    , edges AS (
        SELECT src, dst FROM co_edges UNION ALL SELECT dst, src FROM co_edges
    ),
    r0 AS (SELECT CAST(1 AS BIGINT) AS node, 0 AS d),
    r1 AS (SELECT DISTINCT e.dst AS node, 1 AS d FROM edges e JOIN r0 ON e.src = r0.node),
    r2 AS (SELECT DISTINCT e.dst AS node, 2 AS d FROM edges e JOIN r1 ON e.src = r1.node),
    r3 AS (SELECT DISTINCT e.dst AS node, 3 AS d FROM edges e JOIN r2 ON e.src = r2.node),
    reach AS (
        SELECT * FROM r0 UNION ALL SELECT * FROM r1
        UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
    )
    SELECT node, MIN(d) AS distance FROM reach GROUP BY node
    """,
)
def an_shortest_paths(spark, sf_dir):
    """Single-source BFS distances (≤3 hops) from part 1 on the co-order
    graph; the oracle unrolls the frontier levels and takes min distance
    (= first-visit BFS level)."""
    from jasminegraph_spark.analytics import shortest_paths

    return shortest_paths(co_order_edges(spark, sf_dir), 1, max_hops=3)


def _cc_oracle(iterations: int = 20) -> str:
    """Hash-min label propagation unrolled as chained CTEs. The DataFrame
    job runs the identical recurrence for the identical round budget (it
    may break early *at the fixpoint*, where further SQL rounds are
    no-ops), so the unroll is exact without a convergence assumption."""
    # min over (self ∪ neighbors) ≡ least(own, min over neighbors); the
    # self-loop keeps each round a SINGLE reference to the previous CTE —
    # DuckDB inlines CTEs, so a double reference would expand 2^rounds ways.
    sql = CO_ORDER_CTE + """
    , adj AS MATERIALIZED (
        SELECT src AS u, dst AS v FROM co_edges
        UNION ALL SELECT dst, src FROM co_edges
        UNION ALL SELECT DISTINCT src, src FROM co_edges
        UNION ALL SELECT DISTINCT dst, dst FROM co_edges
    ),
    l0 AS (SELECT DISTINCT u AS node, u AS component FROM adj)
    """
    for i in range(iterations):
        sql += f"""
    , l{i + 1} AS (
        SELECT a.u AS node, MIN(l.component) AS component
        FROM adj a JOIN l{i} l ON l.node = a.v GROUP BY a.u
    )"""
    sql += f"\n    SELECT node, component FROM l{iterations}"
    return sql


@_q(
    "an_closeness_centrality",
    CO_ORDER_CTE
    + """
    , edges AS MATERIALIZED (
        SELECT src, dst FROM co_edges UNION ALL SELECT dst, src FROM co_edges
    ),
    r0 AS (SELECT CAST(s AS BIGINT) AS source, CAST(s AS BIGINT) AS node, 0 AS d
           FROM (VALUES (1), (2), (3)) t(s)),
    r1 AS (SELECT DISTINCT r.source, e.dst AS node, 1 AS d
           FROM edges e JOIN r0 r ON e.src = r.node),
    r2 AS (SELECT DISTINCT r.source, e.dst AS node, 2 AS d
           FROM edges e JOIN r1 r ON e.src = r.node),
    r3 AS (SELECT DISTINCT r.source, e.dst AS node, 3 AS d
           FROM edges e JOIN r2 r ON e.src = r.node),
    reach AS (
        SELECT * FROM r0 UNION ALL SELECT * FROM r1
        UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
    ),
    dist AS (SELECT source, node, MIN(d) AS distance FROM reach GROUP BY source, node)
    SELECT source, COUNT(*) AS n_reached, CAST(SUM(distance) AS BIGINT) AS total_dist,
           printf('%.6f', CAST(COUNT(*) - 1 AS DOUBLE) / SUM(distance)) AS closeness
    FROM dist GROUP BY source ORDER BY source
    """,
)
def an_closeness_centrality(spark, sf_dir):
    """Sampled-source closeness centrality (sources 1..3, ≤3 hops) via ONE
    multi-source BFS frame — the sampled estimator exact closeness
    reduces to at scale; oracle unrolls the frontier levels per source.
    Parity rule: raw doubles diverge between engines' string formatting, so
    the registered surface emits %.6f strings + deterministic order."""
    from jasminegraph_spark.analytics import closeness_centrality

    cc = closeness_centrality(co_order_edges(spark, sf_dir), [1, 2, 3], max_hops=3)
    return cc.select(
        "source",
        "n_reached",
        F.col("total_dist").cast("long").alias("total_dist"),
        F.format_string(
            "%.6f",
            (F.col("n_reached") - 1).cast("double")
            / F.when(F.col("total_dist") > 0, F.col("total_dist")),
        ).alias("closeness"),
    ).orderBy("source")


@_q(
    "an_harmonic_centrality",
    CO_ORDER_CTE
    + """
    , edges AS MATERIALIZED (
        SELECT src, dst FROM co_edges UNION ALL SELECT dst, src FROM co_edges
    ),
    r0 AS (SELECT CAST(s AS BIGINT) AS source, CAST(s AS BIGINT) AS node, 0 AS d
           FROM (VALUES (1), (2), (3)) t(s)),
    r1 AS (SELECT DISTINCT r.source, e.dst AS node, 1 AS d
           FROM edges e JOIN r0 r ON e.src = r.node),
    r2 AS (SELECT DISTINCT r.source, e.dst AS node, 2 AS d
           FROM edges e JOIN r1 r ON e.src = r.node),
    r3 AS (SELECT DISTINCT r.source, e.dst AS node, 3 AS d
           FROM edges e JOIN r2 r ON e.src = r.node),
    reach AS (
        SELECT * FROM r0 UNION ALL SELECT * FROM r1
        UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
    ),
    dist AS (SELECT source, node, MIN(d) AS distance FROM reach
             GROUP BY source, node),
    cnt AS (SELECT source,
                   COUNT(*) FILTER (distance = 1) AS c1,
                   COUNT(*) FILTER (distance = 2) AS c2,
                   COUNT(*) FILTER (distance = 3) AS c3
            FROM dist WHERE distance > 0 GROUP BY source)
    SELECT source, c1 + c2 + c3 AS n_reached,
           printf('%.6f', CAST(c1 AS DOUBLE) / 1 + CAST(c2 AS DOUBLE) / 2
                          + CAST(c3 AS DOUBLE) / 3) AS harmonic
    FROM cnt ORDER BY source
    """,
)
def an_harmonic_centrality(spark, sf_dir):
    """Sampled harmonic centrality (sources 1-3, ≤3 hops): Σ 1/d over the
    same single multi-source BFS frame as closeness — the variant that
    stays finite on disconnected graphs. The reciprocal sum folds
    per-distance counts in ascending-distance order, a fixed-order
    expression over integers, so the double is bit-identical to the
    oracle's left-associated c1/1 + c2/2 + c3/3."""
    from jasminegraph_spark.analytics import harmonic_centrality

    h = harmonic_centrality(co_order_edges(spark, sf_dir), [1, 2, 3], max_hops=3)
    return h.select(
        "source",
        "n_reached",
        F.format_string("%.6f", F.col("harmonic")).alias("harmonic"),
    ).orderBy("source")


@_q(
    "cy_write_roundtrip",
    """
    SELECT * FROM (
        SELECT 'edges' AS metric, (SELECT COUNT(*) FROM nation) AS value
        UNION ALL
        SELECT 'feeds_edges', 1
        UNION ALL
        SELECT 'flag_props', 0
        UNION ALL
        SELECT 'merge_create_set', 1
        UNION ALL
        SELECT 'merge_err_set', 0
        UNION ALL
        SELECT 'merge_match_set', 1
        UNION ALL
        SELECT 'flagged_label',
               (SELECT COUNT(*) FROM nation
                WHERE n_regionkey = 0 AND n_name NOT IN ('NATION_3', 'NATION_0'))
        UNION ALL
        SELECT 'hub_nodes', 4
        UNION ALL
        SELECT 'links_edges', 1
        UNION ALL
        SELECT 'nation_nodes',
               -- -1 for the DETACH-DELETEd NATION_3; REMOVE n:Flagged nulls
               -- NATION_0's label entirely (single-label model), dropping it
               -- from the Nation/Flagged count too when it was in region 0
               (SELECT COUNT(*) FROM nation) - 1
               - (SELECT COUNT(*) FROM nation
                  WHERE n_name = 'NATION_0' AND n_regionkey = 0)
    ) ORDER BY metric
    """,
)
def cy_write_roundtrip(spark, sf_dir):
    """Cypher write path end-to-end, covering the FULL write surface
    (§2.1 Create + SET/MERGE/DELETE + the r5 relationship/label verbs —
    FrontEnd.cpp CREATE; OperatorExecutor.cpp:1257-1281 relationship
    semantics; QueryPlanner.cpp write TODO branches implemented here):
    seed a temp parquet graph from `nation` (ring edges), then CREATE a
    hub, MERGE one match + one miss, SET a region flag, DETACH DELETE
    one nation, MATCH-bound relationship CREATE (run twice — idempotent
    via content-derived edge ids), relationship MERGE upsert (run twice —
    second is a full no-op), SET n:Label over the flagged nations,
    REMOVE n.prop, and REMOVE n:Label, reporting final-state metrics.
    The oracle derives every metric arithmetically from the base table,
    so the driver hash-checks real write semantics for every clause."""
    import shutil
    import tempfile

    from jasminegraph_spark.cypher.write import cypher_write
    from jasminegraph_spark.graph import EDGE_SCHEMA, NODE_SCHEMA, PropertyGraph

    nat = _read(spark, sf_dir, "nation")
    nodes = nat.select(
        F.col("n_nationkey").cast("string").alias("id"),
        F.lit("Nation").alias("label"),
        F.create_map(
            F.lit("name"), F.col("n_name"),
            F.lit("region"), F.col("n_regionkey").cast("string"),
        ).alias("properties"),
    )
    n_nat = nat.count()  # 25 at every TPC-H SF (fixed dimension table)
    edges = nat.select(
        F.concat_ws("-", F.col("n_nationkey"), F.lit("next")).alias("id"),
        F.col("n_nationkey").cast("string").alias("src"),
        ((F.col("n_nationkey") + 1) % n_nat).cast("string").alias("dst"),
        F.lit("NEXT").alias("type"),
        F.create_map().cast("map<string,string>").alias("properties"),
    )
    tmp = tempfile.mkdtemp(prefix="cy_write_")
    gp = f"{tmp}/g"
    try:
        spark.createDataFrame(nodes.collect(), NODE_SCHEMA).write.parquet(f"{gp}/nodes")
        spark.createDataFrame(edges.collect(), EDGE_SCHEMA).write.parquet(f"{gp}/edges")
        cypher_write(spark, gp, "CREATE (h:Hub {id: 'hub1', name: 'Hub One'})")
        cypher_write(spark, gp, "MERGE (n:Nation {name: 'NATION_3'})")  # match → no-op
        cypher_write(spark, gp, "MERGE (n:Hub {name: 'Hub Two'})")  # miss → create
        cypher_write(spark, gp, "MATCH (n:Nation) WHERE n.region = '0' SET n.flag = 1")
        cypher_write(spark, gp, "MATCH (n:Nation {name: 'NATION_3'}) DETACH DELETE n")
        # r5 write surface: bound-endpoint relationship CREATE (twice —
        # content-derived edge ids make the repeat a no-op) …
        rel_create = (
            "MATCH (h:Hub {name: 'Hub One'}), (n:Nation {name: 'NATION_0'}) "
            "CREATE (h)-[:LINKS]->(n)"
        )
        cypher_write(spark, gp, rel_create)
        cypher_write(spark, gp, rel_create)
        # … relationship MERGE upsert (second run is a full no-op) …
        rel_merge = "MERGE (a:Hub {name: 'Hub One'})-[:FEEDS]->(b:Hub {name: 'Hub Three'})"
        cypher_write(spark, gp, rel_merge)
        cypher_write(spark, gp, rel_merge)
        # … conditional upsert: ON MATCH SET on an existing nation, ON
        # CREATE SET through a miss (r6) …
        cypher_write(
            spark, gp,
            "MERGE (n:Nation {name: 'NATION_1'}) ON CREATE SET n.err = 'x' "
            "ON MATCH SET n.touched = '1'",
        )
        cypher_write(
            spark, gp,
            "MERGE (h:Hub {name: 'Hub Four'}) ON CREATE SET h.origin = 'merge' "
            "ON MATCH SET h.err = 'x'",
        )
        # … label SET over the flag='1' nations, property REMOVE, label REMOVE
        cypher_write(spark, gp, "MATCH (n:Nation) WHERE n.flag = '1' SET n:Flagged")
        cypher_write(spark, gp, "MATCH (n:Flagged) REMOVE n.flag")
        cypher_write(spark, gp, "MATCH (n:Flagged {name: 'NATION_0'}) REMOVE n:Flagged")
        g = PropertyGraph(
            nodes=spark.read.parquet(f"{gp}/nodes"),
            edges=spark.read.parquet(f"{gp}/edges"),
        )
        metrics = [
            ("edges", g.edges.count()),
            ("feeds_edges", g.edges.filter(F.col("type") == "FEEDS").count()),
            ("flag_props", g.nodes.filter(F.col("properties")["flag"].isNotNull()).count()),
            ("merge_create_set", g.nodes.filter(F.col("properties")["origin"] == "merge").count()),
            ("merge_err_set", g.nodes.filter(F.col("properties")["err"].isNotNull()).count()),
            ("merge_match_set", g.nodes.filter(F.col("properties")["touched"] == "1").count()),
            ("flagged_label", g.nodes.filter(F.col("label") == "Flagged").count()),
            ("hub_nodes", g.nodes.filter(F.col("label") == "Hub").count()),
            ("links_edges", g.edges.filter(F.col("type") == "LINKS").count()),
            ("nation_nodes", g.nodes.filter(F.col("label").isin("Nation", "Flagged")).count()),
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [(m, int(v)) for m, v in metrics], "metric string, value long"
    ).orderBy("metric")


def _link_examples_oracle(split: str, n_workers: int | None = None) -> str:
    """DuckDB twin of analytics.link_example_features: the 3-way md5 edge
    split, the Knuth-hash derangement negatives, and the cn/jac/aa
    overlap features, all in SQL over the co-order graph."""
    pos_cond = (
        "substring(md5(CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR)), 1, 1) < '3'"
        if split == "train"
        else "substring(md5(CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR)), 1, 1) >= '3' "
        "AND substring(md5(CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR)), 1, 1) < '6'"
    )
    neg_cond = "< '8'" if split == "train" else ">= '8'"
    shard_col = (
        f""",
       CAST((strpos('0123456789abcdef',
                    substring(md5(CAST(p.a AS VARCHAR) || '|' || CAST(p.b AS VARCHAR)), 2, 1))
             - 1) % {n_workers} AS INT) AS shard"""
        if n_workers
        else ""
    )
    return (
        CO_ORDER_CTE
        + f"""
    , und AS MATERIALIZED (SELECT src AS a, dst AS b FROM co_edges),
    fg AS MATERIALIZED (
        SELECT a, b FROM und
        WHERE substring(md5(CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR)), 1, 1) >= '6'
    ),
    pos AS (SELECT a, b FROM und WHERE {pos_cond}),
    verts AS (SELECT DISTINCT v FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und)),
    idx AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) - 1 AS i FROM verts),
    nv AS (SELECT COUNT(*) AS n FROM idx),
    cand AS (
        SELECT DISTINCT LEAST(l.v, r.v) AS a, GREATEST(l.v, r.v) AS b
        FROM idx l JOIN idx r ON ((l.i * 2654435761 + 1) % (SELECT n FROM nv)) = r.i
        WHERE l.v <> r.v
    ),
    neg AS (
        SELECT c.a, c.b FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM und u WHERE u.a = c.a AND u.b = c.b)
          AND substring(md5(CAST(c.a AS VARCHAR) || '|' || CAST(c.b AS VARCHAR)), 1, 1) {neg_cond}
    ),
    pairs AS (
        SELECT a, b, 1 AS label FROM pos
        UNION ALL SELECT a, b, 0 AS label FROM neg
    ),
    adj AS MATERIALIZED (SELECT a AS x, b AS w FROM fg UNION ALL SELECT b, a FROM fg),
    degw AS MATERIALIZED (SELECT w, COUNT(*) AS dw FROM adj GROUP BY w),
    overlap AS (
        SELECT p.a, p.b, COUNT(*) AS cn, SUM(1.0 / ln(d.dw + 1e-9)) AS aa
        FROM pairs p
        JOIN adj n1 ON n1.x = p.a
        JOIN degw d ON d.w = n1.w
        WHERE EXISTS (SELECT 1 FROM adj n2 WHERE n2.x = p.b AND n2.w = n1.w)
        GROUP BY p.a, p.b
    )
    SELECT p.a, p.b, CAST(p.label AS INT) AS label,
           CAST(COALESCE(o.cn, 0) AS BIGINT) AS cn,
           ROUND(CAST(COALESCE(o.cn, 0) AS DOUBLE)
                 / (da.dw + db.dw - COALESCE(o.cn, 0)), 6) AS jac,
           ROUND(COALESCE(o.aa, 0.0), 6) AS aa{shard_col}
    FROM pairs p
    JOIN degw da ON da.w = p.a
    JOIN degw db ON db.w = p.b
    LEFT JOIN overlap o ON o.a = p.a AND o.b = p.b
    ORDER BY p.a, p.b
    """
    )


_SAGE_L2_COLS = ["f1", "f2", "f3", "f4", "l1_f1", "l1_f2", "l1_f3", "l1_f4"]
_SAGE_ORACLE = (
    CO_ORDER_CTE
    + """
    , adj AS MATERIALIZED (
        SELECT src AS v, dst AS w FROM co_edges
        UNION ALL SELECT dst, src FROM co_edges
    ),
    deg AS MATERIALIZED (SELECT v, CAST(COUNT(*) AS DOUBLE) AS f1 FROM adj GROUP BY v),
    h0 AS MATERIALIZED (
        SELECT d.v, d.f1, n.f2, n.f3, n.f4
        FROM deg d JOIN (
            SELECT a.v, CAST(SUM(dn.f1) AS DOUBLE) AS f2,
                   CAST(MAX(dn.f1) AS DOUBLE) AS f3,
                   CAST(MIN(dn.f1) AS DOUBLE) AS f4
            FROM adj a JOIN deg dn ON dn.v = a.w GROUP BY a.v
        ) n ON n.v = d.v
    ),
    h1 AS MATERIALIZED (
        SELECT h.v, h.f1, h.f2, h.f3, h.f4,
               m.l1_f1, m.l1_f2, m.l1_f3, m.l1_f4
        FROM h0 h JOIN (
            SELECT a.v, AVG(hw.f1) AS l1_f1, AVG(hw.f2) AS l1_f2,
                   AVG(hw.f3) AS l1_f3, AVG(hw.f4) AS l1_f4
            FROM adj a JOIN h0 hw ON hw.v = a.w GROUP BY a.v
        ) m ON m.v = h.v
    ),
    h2 AS (
        SELECT h.v, h.f1, h.f2, h.f3, h.f4,
               h.l1_f1, h.l1_f2, h.l1_f3, h.l1_f4,
"""
    + ",\n".join(
        f"               m.l2_{c}" for c in _SAGE_L2_COLS
    )
    + """
        FROM h1 h JOIN (
            SELECT a.v,
"""
    + ",\n".join(
        f"                   AVG(hw.{c}) AS l2_{c}" for c in _SAGE_L2_COLS
    )
    + """
            FROM adj a JOIN h1 hw ON hw.v = a.w GROUP BY a.v
        ) m ON m.v = h.v
    )
    SELECT v,
"""
    + ",\n".join(
        f"           ROUND({c}, 4) AS {c}"
        for c in _SAGE_L2_COLS + [f"l2_{c}" for c in _SAGE_L2_COLS]
    )
    + """
    FROM h2 WHERE v <= 200 ORDER BY v
    """
)


@_q("an_sage_embeddings", _SAGE_ORACLE)
def an_sage_embeddings(spark, sf_dir):
    """The GraphSAGE-class encoder itself under the driver's hash check
    (reference src_python/models/supervised.py:41-212 trains a 2-layer
    GraphSAGE; linkpred.sage_embeddings is its deterministic mean-
    aggregator form — hᵏ⁺¹ = [hᵏ ‖ mean_nbr hᵏ] with the linear
    transforms folded into the trained head). The oracle recomputes both
    layers as nested join+AVG CTEs; rows are the v ≤ 200 slice (16
    feature columns each, rounded 4dp — layer-1 values are exact
    integer-sum means, only layer-2 carries float summation, far inside
    the rounding margin)."""
    from jasminegraph_spark.analytics import sage_embeddings

    emb = sage_embeddings(
        co_order_edges(spark, sf_dir), layers=2, assume_canonical=True
    )
    num = [c for c in emb.columns if c != "v"]
    return (
        emb.filter(F.col("v") <= 200)
        .select("v", *[F.round(c, 4).alias(c) for c in num])
        .orderBy("v")
    )


_SAGE_SAMPLED_ORACLE = (
    CO_ORDER_CTE
    + """
    , adj AS MATERIALIZED (
        SELECT src AS v, dst AS w FROM co_edges
        UNION ALL SELECT dst, src FROM co_edges
    ),
    sadj1 AS MATERIALIZED (
        SELECT v, w FROM (
            SELECT v, w, ROW_NUMBER() OVER (
                PARTITION BY v ORDER BY md5(concat_ws('|', v, w, 1)), w) AS rn
            FROM adj) WHERE rn <= 10
    ),
    sadj2 AS MATERIALIZED (
        SELECT v, w FROM (
            SELECT v, w, ROW_NUMBER() OVER (
                PARTITION BY v ORDER BY md5(concat_ws('|', v, w, 2)), w) AS rn
            FROM adj) WHERE rn <= 5
    ),
    deg AS MATERIALIZED (SELECT v, CAST(COUNT(*) AS DOUBLE) AS f1 FROM adj GROUP BY v),
    h0 AS MATERIALIZED (
        SELECT d.v, d.f1, n.f2, n.f3, n.f4
        FROM deg d JOIN (
            SELECT a.v, CAST(SUM(dn.f1) AS DOUBLE) AS f2,
                   CAST(MAX(dn.f1) AS DOUBLE) AS f3,
                   CAST(MIN(dn.f1) AS DOUBLE) AS f4
            FROM adj a JOIN deg dn ON dn.v = a.w GROUP BY a.v
        ) n ON n.v = d.v
    ),
    h1 AS MATERIALIZED (
        SELECT h.v, h.f1, h.f2, h.f3, h.f4,
               m.l1_f1, m.l1_f2, m.l1_f3, m.l1_f4
        FROM h0 h JOIN (
            SELECT a.v, AVG(hw.f1) AS l1_f1, AVG(hw.f2) AS l1_f2,
                   AVG(hw.f3) AS l1_f3, AVG(hw.f4) AS l1_f4
            FROM sadj1 a JOIN h0 hw ON hw.v = a.w GROUP BY a.v
        ) m ON m.v = h.v
    ),
    h2 AS (
        SELECT h.v, h.f1, h.f2, h.f3, h.f4,
               h.l1_f1, h.l1_f2, h.l1_f3, h.l1_f4,
"""
    + ",\n".join(
        f"               m.l2_{c}" for c in _SAGE_L2_COLS
    )
    + """
        FROM h1 h JOIN (
            SELECT a.v,
"""
    + ",\n".join(
        f"                   AVG(hw.{c}) AS l2_{c}" for c in _SAGE_L2_COLS
    )
    + """
            FROM sadj2 a JOIN h1 hw ON hw.v = a.w GROUP BY a.v
        ) m ON m.v = h.v
    )
    SELECT v,
"""
    + ",\n".join(
        f"           ROUND({c}, 4) AS {c}"
        for c in _SAGE_L2_COLS + [f"l2_{c}" for c in _SAGE_L2_COLS]
    )
    + """
    FROM h2 WHERE v <= 200 ORDER BY v
    """
)


@_q("an_sage_sampled", _SAGE_SAMPLED_ORACLE)
def an_sage_sampled(spark, sf_dir):
    """SAMPLED-neighborhood GraphSAGE under the driver's hash check (r7,
    closing the r6 verdict's sampled-SAGE gap #4): the reference trains
    with a [10, 5] per-layer fan-out sampler
    (src_python/models/supervised.py:41-212 via StellarGraph); here
    layer k aggregates over at most sample[k-1] neighbors chosen by md5
    rank over (v, w, layer) — a fixed uniform draw, deterministic and
    replayable, which is what lets DuckDB rebuild the EXACT per-layer
    sampled adjacency (windowed row_number ≤ fan-out) and hash-match
    all 16 feature columns. The xxhash64 draw is the scale default for
    training (linkpred_ml encoder='sage_sampled'); hub cost per layer
    drops from deg(v) to the cap — the paper's reason to sample."""
    from jasminegraph_spark.analytics import sage_embeddings

    emb = sage_embeddings(
        co_order_edges(spark, sf_dir), layers=2, sample=[10, 5], hash_fn="md5",
        assume_canonical=True,
    )
    num = [c for c in emb.columns if c != "v"]
    return (
        emb.filter(F.col("v") <= 200)
        .select("v", *[F.round(c, 4).alias(c) for c in num])
        .orderBy("v")
    )


@_q("an_link_prediction_trained", _link_examples_oracle("test"))
def an_link_prediction_trained(spark, sf_dir):
    """The train/predict lifecycle's driver contract (supervised.py:41-212's
    EdgeSplitter + link_classification re-expressed Spark-first): the
    held-out TEST example table — 3-way md5 edge split, hash-derangement
    negatives, cn/jac/aa overlap features over the feature graph — exactly
    what the seeded LogisticRegression head consumes, hash-matched against
    a DuckDB twin (was rows-only/no_oracle through r04). The fit itself is
    not SQL-expressible; its AUC floor vs the Jaccard baseline stays
    asserted in tests/test_linkpred_kg.py."""
    from jasminegraph_spark.analytics import link_example_features

    return link_example_features(co_order_edges(spark, sf_dir), split="test")


@_q("an_link_prediction_federated", _link_examples_oracle("train", n_workers=4))
def an_link_prediction_federated(spark, sf_dir):
    """The federated train→merge lifecycle's driver contract (fl_client/
    fl_server): the TRAIN example table with the md5-derived shard id each
    of the 4 FedAvg workers trains on — split, negatives, features, and
    shard layout all hash-matched vs DuckDB. The per-shard fits + FedAvg
    coefficient merge (not SQL-expressible) keep their merged-vs-global
    AUC parity assertion on the reference's cora fixture in
    tests/test_linkpred_kg.py."""
    from jasminegraph_spark.analytics import link_example_features

    return link_example_features(
        co_order_edges(spark, sf_dir), split="train", n_workers=4
    )


def _lpa_oracle(iterations: int = 4) -> str:
    sql = (
        CO_ORDER_CTE
        + """
    , adj AS MATERIALIZED (
        SELECT src AS u, dst AS v FROM co_edges
        UNION ALL SELECT dst, src FROM co_edges
    ),
    l0 AS (SELECT DISTINCT u AS node, u AS community FROM adj)"""
    )
    for i in range(iterations):
        sql += f""",
    l{i + 1} AS (
        SELECT node, community FROM (
            SELECT a.u AS node, l.community,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.u
                       ORDER BY COUNT(*) DESC, l.community ASC) AS rn
            FROM adj a JOIN l{i} l ON l.node = a.v
            GROUP BY a.u, l.community
        ) WHERE rn = 1
    )"""
    sql += f"""
    SELECT CAST(sz AS BIGINT) AS community_size,
           CAST(COUNT(*) AS BIGINT) AS n_communities
    FROM (SELECT community, COUNT(*) AS sz FROM l{iterations} GROUP BY community)
    GROUP BY sz ORDER BY community_size
    """
    return sql


def _modularity_oracle(iterations: int = 4) -> str:
    """LPA communities (same unrolled recurrence as _lpa_oracle) scored
    with Newman modularity over the canonical co-order edge set."""
    base = _lpa_oracle(iterations)
    head = base.rsplit("\n    SELECT CAST(sz AS BIGINT)", 1)[0]
    return head + f"""
    , und AS MATERIALIZED (SELECT src AS a, dst AS b FROM co_edges),
    m AS (SELECT COUNT(*) AS m FROM und),
    labeled AS (
        SELECT la.community AS ca, lb.community AS cb
        FROM und e JOIN l{iterations} la ON la.node = e.a
        JOIN l{iterations} lb ON lb.node = e.b
    ),
    intra AS (
        SELECT ca AS community, COUNT(*) AS e_c FROM labeled
        WHERE ca = cb GROUP BY ca
    ),
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und
        ) GROUP BY node
    ),
    dc AS (
        SELECT l.community, SUM(deg.d) AS d_c
        FROM l{iterations} l JOIN deg ON deg.node = l.node
        GROUP BY l.community
    ),
    per_c AS (
        SELECT dc.community, COALESCE(intra.e_c, 0) AS e_c, dc.d_c
        FROM dc LEFT JOIN intra ON intra.community = dc.community
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
           printf('%.6f', SUM(e_c) / CAST(m.m AS DOUBLE)) AS intra_edge_fraction,
           printf('%.6f', SUM(e_c / CAST(m.m AS DOUBLE)
               - pow(d_c / (CAST(2.0 AS DOUBLE) * m.m), 2))) AS modularity
    FROM per_c, m GROUP BY m.m
    """


def _coarsen_oracle(iterations: int = 4) -> str:
    """LPA communities (unrolled) contracted to the supernode graph."""
    base = _lpa_oracle(iterations)
    head = base.rsplit("\n    SELECT CAST(sz AS BIGINT)", 1)[0]
    return head + f"""
    , und AS MATERIALIZED (SELECT src AS a, dst AS b FROM co_edges)
    SELECT LEAST(la.community, lb.community) AS ca,
           GREATEST(la.community, lb.community) AS cb,
           COUNT(*) AS weight
    FROM und e JOIN l{iterations} la ON la.node = e.a
    JOIN l{iterations} lb ON lb.node = e.b
    GROUP BY 1, 2 ORDER BY ca, cb
    """


@_q("an_coarsen", _coarsen_oracle(4))
def an_coarsen(spark, sf_dir):
    """Multilevel graph coarsening (analytics/components.coarsen ∘
    label_propagation): contract LPA communities to supernodes with
    weighted superedges — METIS's contraction step, the role the
    reference delegates to offline partition files. Self rows carry the
    intra-community edge mass."""
    from jasminegraph_spark.analytics import coarsen, label_propagation

    e = co_order_edges(spark, sf_dir)
    communities = label_propagation(e, iterations=4)
    return coarsen(e, communities).orderBy("ca", "cb")


@_q("an_modularity", _modularity_oracle(4))
def an_modularity(spark, sf_dir):
    """Newman modularity of the 4-round LPA partition on the co-order
    graph (analytics/components.modularity ∘ label_propagation) — the
    partition-quality score community detection is judged by. Oracle =
    the LPA recurrence unrolled + the same Q aggregation."""
    from jasminegraph_spark.analytics import label_propagation, modularity

    e = co_order_edges(spark, sf_dir)
    communities = label_propagation(e, iterations=4)
    out = modularity(e, communities)
    return out.select(
        "n_communities",
        F.format_string("%.6f", F.col("intra_edge_fraction")).alias(
            "intra_edge_fraction"
        ),
        F.format_string("%.6f", F.col("modularity")).alias("modularity"),
    )


@_q("an_label_propagation", _lpa_oracle(4))
def an_label_propagation(spark, sf_dir):
    """Community detection via synchronous label propagation (4 rounds,
    neighbor-majority labels, min-label tie-break) on the co-order graph;
    reports the community size histogram. Oracle = the same recurrence
    unrolled round for round in SQL."""
    from jasminegraph_spark.analytics import label_propagation

    communities = label_propagation(co_order_edges(spark, sf_dir), iterations=4)
    sizes = communities.groupBy("community").agg(F.count("*").alias("sz"))
    return (
        sizes.groupBy(F.col("sz").cast("long").alias("community_size"))
        .agg(F.count("*").cast("long").alias("n_communities"))
        .orderBy("community_size")
    )


@_q("an_connected_components", _cc_oracle(20))
def an_connected_components(spark, sf_dir):
    """Weakly connected components (hash-min propagation) on the co-order
    graph. Oracle = the same recurrence unrolled for the same 20-round
    budget (early break only happens at the fixpoint, where extra SQL
    rounds are identity). The co-order projection is already an a<b
    distinct edge set, so the redundant re-canonicalization shuffle is
    skipped (assume_canonical, r13)."""
    from jasminegraph_spark.analytics import connected_components

    return connected_components(
        co_order_edges(spark, sf_dir), max_iterations=20, assume_canonical=True
    )


def _msf_oracle(iterations: int = 20) -> str:
    """Structural MSF oracle: Borůvka's forest must connect EXACTLY the
    weakly-connected components of the co-order graph (hash-min unrolled,
    same recurrence as _cc_oracle) with precisely n−1 tree edges each —
    spanning + acyclic + no cross-component edges, all hash-checked. The
    edge WEIGHTS are Kruskal-property-tested (tests/test_property_based
    .test_msf_matches_kruskal); total weight has no SQL twin."""
    sql = CO_ORDER_CTE + """
    , adj AS MATERIALIZED (
        SELECT src AS u, dst AS v FROM co_edges
        UNION ALL SELECT dst, src FROM co_edges
        UNION ALL SELECT DISTINCT src, src FROM co_edges
        UNION ALL SELECT DISTINCT dst, dst FROM co_edges
    ),
    l0 AS (SELECT DISTINCT u AS node, u AS component FROM adj)
    """
    for i in range(iterations):
        sql += f"""
    , l{i + 1} AS (
        SELECT a.u AS node, MIN(l.component) AS component
        FROM adj a JOIN l{i} l ON l.node = a.v GROUP BY a.u
    )"""
    sql += f"""
    SELECT component, COUNT(*) AS n_nodes,
           COUNT(*) - 1 AS n_tree_edges
    FROM l{iterations} GROUP BY component ORDER BY component"""
    return sql


@_q("an_msf", _msf_oracle(20))
def an_msf(spark, sf_dir):
    """Minimum spanning forest (components.minimum_spanning_forest —
    distributed Borůvka, O(log n) rounds, unique MSF under the
    (weight, a, b) total order) on the weighted co-order graph
    (w = 1/n_shared_orders). The driver frame re-derives components
    FROM THE FOREST EDGES and reports per-component (n_nodes,
    n_tree_edges) — hash-matching the WCC oracle proves the forest
    spans every component exactly, acyclically, with no
    cross-component edge."""
    from jasminegraph_spark.analytics import connected_components, minimum_spanning_forest
    from jasminegraph_spark.projection import co_order_weighted_edges

    forest = minimum_spanning_forest(co_order_weighted_edges(spark, sf_dir))
    # the forest is a TREE per component — diameter far beyond a hash-min
    # round budget; wcc's driver path labels it in O(log n) passes regardless
    comp = connected_components(
        forest.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    sizes = comp.groupBy("component").agg(F.count("*").alias("n_nodes"))
    ecnt = (
        forest.join(comp.withColumnRenamed("node", "a"), "a")
        .groupBy("component")
        .agg(F.count("*").alias("n_tree_edges"))
    )
    return (
        sizes.join(ecnt, "component")
        .select("component", "n_nodes", "n_tree_edges")
        .orderBy("component")
    )


def _mis_oracle(rounds: int = 20) -> str:
    """Luby MIS unrolled round-for-round: md5 priorities make the
    algorithm deterministic, so the SQL twin reproduces the exact set
    (post-fixpoint rounds are identity on an empty remainder)."""
    sql = CO_ORDER_CTE + """
    , adj AS MATERIALIZED (
        SELECT src AS u, dst AS v FROM co_edges
        UNION ALL SELECT dst, src FROM co_edges
    ),
    r0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM adj)
    """
    for i in range(rounds):
        sql += f"""
    , nm{i} AS MATERIALIZED (
        SELECT a.u, MIN(md5(CAST(a.v AS VARCHAR))) AS m
        FROM adj a
        JOIN r{i} x ON x.node = a.u
        JOIN r{i} y ON y.node = a.v
        GROUP BY a.u
    ),
    w{i} AS MATERIALIZED (
        SELECT r.node FROM r{i} r LEFT JOIN nm{i} n ON n.u = r.node
        WHERE md5(CAST(r.node AS VARCHAR)) < COALESCE(n.m, 'g')
    ),
    r{i + 1} AS MATERIALIZED (
        SELECT r.node FROM r{i} r
        WHERE r.node NOT IN (SELECT node FROM w{i})
          AND r.node NOT IN (
              SELECT a.u FROM adj a JOIN w{i} w ON w.node = a.v)
    )"""
    union = " UNION ALL ".join(f"SELECT node FROM w{i}" for i in range(rounds))
    sql += f"\n    SELECT CAST(node AS BIGINT) AS node FROM ({union}) ORDER BY node"
    return sql


@_q("an_mis", _mis_oracle(20))
def an_mis(spark, sf_dir):
    """Maximal independent set (components.maximal_independent_set —
    Luby SIAM'86, the classic O(log n)-round parallel MIS primitive)
    on the co-order graph, made deterministic with md5 node priorities
    so the exact set hash-matches the round-unrolled SQL twin.
    Independence/maximality/determinism are property-tested on
    arbitrary graphs (tests/test_property_based.py)."""
    from jasminegraph_spark.analytics import maximal_independent_set

    mis = maximal_independent_set(co_order_edges(spark, sf_dir))
    return mis.select(F.col("node").cast("long")).orderBy("node")


_SCC_ORACLE = """
    WITH RECURSIVE g AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
            SELECT l_orderkey % 400 AS src,
                   (l_partkey * 31 + l_suppkey) % 400 AS dst
            FROM lineitem
        )
        WHERE src != dst
          AND substring(md5(concat(src, '-', dst)), 1, 1) = '0'
    ),
    nodes AS (SELECT DISTINCT src AS node FROM g
              UNION SELECT DISTINCT dst FROM g),
    reach AS (
        SELECT src AS s, dst AS d FROM g
        UNION
        SELECT r.s, g.dst FROM reach r JOIN g ON g.src = r.d
    ),
    mutual AS (
        SELECT r1.s AS v, r1.d AS u
        FROM reach r1 JOIN reach r2 ON r2.s = r1.d AND r2.d = r1.s
    )
    SELECT CAST(n.node AS BIGINT) AS node,
           CAST(LEAST(n.node, COALESCE(MIN(m.u), n.node)) AS BIGINT) AS component
    FROM nodes n LEFT JOIN mutual m ON m.v = n.node
    GROUP BY n.node ORDER BY node
"""


@_q("an_scc", _SCC_ORACLE)
def an_scc(spark, sf_dir):
    """Strongly connected components (components.strongly_connected_
    components — trim + FW/BW min-pivot settling, Salihoglu & Widom
    VLDB'14 family) on a DIRECTED cyclic graph hashed out of lineitem:
    node space fixed at 400 ids (l_orderkey%400 → (31·l_partkey +
    l_suppkey)%400), thinned to 1/16 density by an md5 edge filter both
    engines compute identically. The fixed id space bounds the DuckDB
    transitive-closure oracle (≤400² reach pairs) at EVERY scale factor
    while the Spark side still scans the full lineitem table. Oracle:
    reach = recursive closure, v ∈ SCC(min u: v↔u mutual reach)."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    g = (
        li.select(
            (F.col("l_orderkey") % 400).cast("long").alias("src"),
            ((F.col("l_partkey") * 31 + F.col("l_suppkey")) % 400)
            .cast("long")
            .alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .filter(F.substring(F.md5(F.concat_ws("-", "src", "dst")), 1, 1) == "0")
    )
    from jasminegraph_spark.analytics import strongly_connected_components

    return (
        strongly_connected_components(g, max_outer=30)
        .select(F.col("node").cast("long"), F.col("component").cast("long"))
        .orderBy("node")
    )


def _kcore_oracle(k: int = 8, iterations: int = 30) -> str:
    """Iterative min-degree peel unrolled as chained CTEs (same round
    budget as the DataFrame job — post-fixpoint rounds are identity)."""
    # every c{i}/k{i} is MATERIALIZED: DuckDB inlines plain CTEs, and each
    # round references the previous one 3× — inlining would blow up 3^rounds.
    sql = CO_ORDER_CTE + """
    , c0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM co_edges)
    """
    for i in range(iterations):
        sql += f"""
    , k{i + 1} AS MATERIALIZED (
        SELECT v FROM (
            SELECT a AS v FROM c{i} UNION ALL SELECT b FROM c{i}
        ) GROUP BY v HAVING COUNT(*) >= {k}
    ),
    c{i + 1} AS MATERIALIZED (
        SELECT a, b FROM c{i}
        WHERE a IN (SELECT v FROM k{i + 1})
          AND b IN (SELECT v FROM k{i + 1})
    )"""
    sql += f"\n    SELECT a, b FROM c{iterations}"
    return sql


def _ktruss_oracle(k: int, rounds: int) -> str:
    """Unrolled k-truss peel: per round, triangle support from the
    materialized current edge set (the MATERIALIZED hint is load-bearing:
    DuckDB otherwise inlines each cur{i} into its three join arms,
    re-evaluating the whole peel chain 3^rounds times)."""
    sql = CO_ORDER_CTE.replace(
        "WITH co_edges AS (", "WITH co_edges AS MATERIALIZED ("
    ) + """
    , cur0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM co_edges)
    """
    for i in range(rounds):
        sql += f"""
    , tri{i} AS MATERIALIZED (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM cur{i} e1 JOIN cur{i} e2 ON e2.a = e1.b
        JOIN cur{i} e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    supp{i} AS MATERIALIZED (
        SELECT a, b, COUNT(*) AS support FROM (
            SELECT x AS a, y AS b FROM tri{i}
            UNION ALL SELECT x, z FROM tri{i}
            UNION ALL SELECT y, z FROM tri{i}
        ) GROUP BY a, b
    ),
    cur{i + 1} AS MATERIALIZED (
        SELECT s.a, s.b, s.support FROM supp{i} s
        JOIN cur{i} c ON c.a = s.a AND c.b = s.b
        WHERE s.support >= {k - 2}
    )"""
    sql += f"\n    SELECT a, b, support FROM cur{rounds}"
    return sql


@_q("an_k_truss", _ktruss_oracle(5, 3))
def an_k_truss(spark, sf_dir):
    """k-truss decomposition (k=5, 3 peel rounds) of the co-order graph
    (analytics/graph_algs.k_truss) — cohesion mining one notch stronger
    than k-core: every surviving edge sits in >= 3 triangles of the
    surviving subgraph. Per round one wedge join + two hash aggregations
    (the `trian` plan shape); the oracle unrolls the identical peel."""
    from jasminegraph_spark.analytics import k_truss

    return k_truss(co_order_edges(spark, sf_dir), k=5, max_iterations=3)


def _wsp_oracle(iterations: int, source: int) -> str:
    """Unrolled Bellman-Ford over the weighted co-order graph (w = 1 /
    n_shared_orders). Each candidate distance is a sum along one concrete
    path — the identical float computation tree in both engines — so MIN
    picks the same value; output rounded to 6dp."""
    sql = CO_ORDER_W_CTE + """
    , adj AS MATERIALIZED (
        SELECT src, dst, weight FROM co_w
        UNION ALL SELECT dst, src, weight FROM co_w
    ),
    d0 AS (SELECT CAST(%d AS BIGINT) AS node, CAST(0.0 AS DOUBLE) AS distance)
    """ % source
    for i in range(iterations):
        sql += f"""
    , d{i + 1} AS MATERIALIZED (
        SELECT node, MIN(distance) AS distance FROM (
            SELECT node, distance FROM d{i}
            UNION ALL
            SELECT a.dst AS node, d.distance + a.weight AS distance
            FROM adj a JOIN d{i} d ON d.node = a.src
        ) GROUP BY node
    )"""
    sql += f"\n    SELECT node, ROUND(distance, 6) AS distance FROM d{iterations}"
    return sql


@_q("an_weighted_shortest_paths", _wsp_oracle(4, 1))
def an_weighted_shortest_paths(spark, sf_dir):
    """Weighted single-source shortest paths (Bellman-Ford, 4 relaxation
    rounds) from part 1 over the co-order graph weighted by
    1/n_shared_orders — "how tightly is every part coupled to part 1".
    One distance-table join + min-aggregation per round (broadcast under
    the size guard, co-partitioned beyond); the oracle unrolls the same
    recurrence."""
    from jasminegraph_spark.analytics import weighted_shortest_paths

    # dedup_edges=False: the weighted co-order projection is already an
    # a<b distinct pair set (one row per pair), so the min-groupBy over
    # the symmetrized union is an identity — skipped (r13)
    d = weighted_shortest_paths(
        co_order_weighted_edges(spark, sf_dir), 1, iterations=4, undirected=True,
        dedup_edges=False,
    )
    return d.select("node", F.round("distance", 6).alias("distance"))


def _walks_oracle(length: int, seeds: tuple) -> str:
    """Unrolled hash-deterministic random walks: per step, min_by over
    the md5 of (walk, step, candidate) — the same uniform choice the
    DataFrame job makes, so the whole walk corpus matches row-for-row."""
    vals = ", ".join(f"(CAST({s} AS BIGINT))" for s in seeds)
    sql = CO_ORDER_CTE + f"""
    , adj AS MATERIALIZED (
        SELECT src, dst FROM co_edges UNION ALL SELECT dst, src FROM co_edges
    ),
    w0 AS (SELECT col0 AS source, col0 AS node FROM (VALUES {vals}))
    """
    for t in range(length):
        sql += f"""
    , w{t + 1} AS MATERIALIZED (
        SELECT w.source,
               min_by(a.dst, md5(CAST(w.source AS VARCHAR) || ':{t}:' ||
                      CAST(a.dst AS VARCHAR))) AS node
        FROM w{t} w JOIN adj a ON a.src = w.node
        GROUP BY w.source
    )"""
    parts = [f"SELECT source, {t} AS step, node FROM w{t}" for t in range(length + 1)]
    sql += " " + " UNION ALL ".join(parts)
    return sql


@_q("an_random_walks", _walks_oracle(5, (1, 2, 3, 4, 5)))
def an_random_walks(spark, sf_dir):
    """DeepWalk-style walk corpus (analytics/graph_algs.random_walks):
    5-step walks from parts 1-5 over the co-order graph with RNG-free
    hash-argmin transitions — the embedding-trainer input pipeline
    (reference GraphSAGE samples neighborhoods the same shape). The
    whole corpus is deterministic, so the oracle replays it exactly."""
    from jasminegraph_spark.analytics import random_walks

    return random_walks(co_order_edges(spark, sf_dir), [1, 2, 3, 4, 5], length=5)

def _node2vec_oracle(length: int, seeds: tuple, p: float, q: float) -> str:
    """Unrolled node2vec: per step the Efraimidis–Spirakis key
    ln(u)/α(prev, cand) argmax — same α rules and md5-derived u as the
    DataFrame job, so the biased corpus matches row-for-row."""
    vals = ", ".join(f"(CAST({s} AS BIGINT))" for s in seeds)
    u_expr = (
        "(CAST("
        + _hex_to_num_sql(
            "md5(CAST(w.source AS VARCHAR) || ':{t}:' || CAST(a.dst AS VARCHAR))"
        )
        + " AS DOUBLE) + 1.0) / 281474976710656.0"
    )
    sql = CO_ORDER_CTE + f"""
    , adj AS MATERIALIZED (
        SELECT src, dst FROM co_edges UNION ALL SELECT dst, src FROM co_edges
    ),
    w0 AS (SELECT col0 AS source, col0 AS node,
                  CAST(NULL AS BIGINT) AS prev FROM (VALUES {vals}))
    """
    for t in range(length):
        ut = u_expr.replace("{t}", str(t))
        sql += f"""
    , c{t} AS MATERIALIZED (
        SELECT w.source, w.node, a.dst AS cand,
               ln({ut}) /
               (CASE WHEN w.prev IS NULL THEN 1.0
                     WHEN a.dst = w.prev THEN {1.0 / p!r}
                     WHEN b.src IS NOT NULL THEN 1.0
                     ELSE {1.0 / q!r} END) AS k
        FROM w{t} w
        JOIN adj a ON a.src = w.node
        LEFT JOIN adj b ON b.src = w.prev AND b.dst = a.dst
    ),
    w{t + 1} AS MATERIALIZED (
        SELECT source, cand AS node, node AS prev FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY source ORDER BY k DESC, cand DESC) AS rn
            FROM c{t}
        ) WHERE rn = 1
    )"""
    parts = [f"SELECT source, {t} AS step, node FROM w{t}" for t in range(length + 1)]
    sql += " " + " UNION ALL ".join(parts)
    return sql


@_q("an_node2vec_walks", _node2vec_oracle(4, (1, 2, 3, 4, 5), 2.0, 0.5))
def an_node2vec_walks(spark, sf_dir):
    """node2vec biased walk corpus (graph_algs.node2vec_walks — Grover &
    Leskovec KDD'16 with RNG-free Efraimidis–Spirakis transitions):
    return bias 1/p, distance-1 bias 1, explore bias 1/q, selected by
    deterministic weighted argmax so the exact biased corpus is a pure
    function of the graph. Oracle unrolls the identical recurrence;
    parity with a literal Python node2vec step is property-tested on
    arbitrary graphs."""
    from jasminegraph_spark.analytics import node2vec_walks

    return node2vec_walks(
        co_order_edges(spark, sf_dir), [1, 2, 3, 4, 5], length=4, p=2.0, q=0.5
    )


def _node2vec_corpus_oracle(length: int, n_walks: int, p: float, q: float) -> str:
    """Unrolled node2vec CORPUS: every co-order vertex × ``n_walks``
    walk indices, E-S key ln(u)/α per step with the walk index folded
    into the md5 — the same recurrence node2vec_corpus runs, so the
    full |V|·R corpus matches row-for-row."""
    u_expr = (
        "(CAST("
        + _hex_to_num_sql(
            "md5(CAST(w.source AS VARCHAR) || ':' || CAST(w.walk AS VARCHAR) || "
            "':{t}:' || CAST(a.dst AS VARCHAR))"
        )
        + " AS DOUBLE) + 1.0) / 281474976710656.0"
    )
    walk_vals = ", ".join(f"({r})" for r in range(n_walks))
    sql = CO_ORDER_CTE + f"""
    , adj AS MATERIALIZED (
        SELECT src, dst FROM co_edges UNION ALL SELECT dst, src FROM co_edges
    ),
    w0 AS (SELECT v.source, r.walk, v.source AS node,
                  CAST(NULL AS BIGINT) AS prev
           FROM (SELECT DISTINCT src AS source FROM adj) v
           CROSS JOIN (SELECT CAST(col0 AS INT) AS walk FROM (VALUES {walk_vals})) r)
    """
    for t in range(length):
        ut = u_expr.replace("{t}", str(t))
        sql += f"""
    , c{t} AS MATERIALIZED (
        SELECT w.source, w.walk, w.node, a.dst AS cand,
               ln({ut}) /
               (CASE WHEN w.prev IS NULL THEN 1.0
                     WHEN a.dst = w.prev THEN {1.0 / p!r}
                     WHEN b.src IS NOT NULL THEN 1.0
                     ELSE {1.0 / q!r} END) AS k
        FROM w{t} w
        JOIN adj a ON a.src = w.node
        LEFT JOIN adj b ON b.src = w.prev AND b.dst = a.dst
    ),
    w{t + 1} AS MATERIALIZED (
        SELECT source, walk, cand AS node, node AS prev FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY source, walk ORDER BY k DESC, cand DESC) AS rn
            FROM c{t}
        ) WHERE rn = 1
    )"""
    parts = [
        f"SELECT source, walk, {t} AS step, node FROM w{t}" for t in range(length + 1)
    ]
    sql += " " + " UNION ALL ".join(parts)
    return sql


@_q("an_node2vec_corpus", _node2vec_corpus_oracle(3, 2, 2.0, 0.5))
def an_node2vec_corpus(spark, sf_dir):
    """Graph-scale node2vec walk corpus (graph_algs.node2vec_corpus —
    closes the r5 verdict's walk-corpus ask #7): TWO biased walks from
    EVERY vertex of the co-order graph, sourced from the vertex table
    (not a driver seed list), walk index folded into the E-S hash so
    sibling walks diverge deterministically. The walker frame is |V|·R
    rows and is never force-broadcast — each step equi-joins walkers
    against the persisted adjacency. Oracle unrolls the identical
    |V|·R recurrence."""
    from jasminegraph_spark.analytics import node2vec_corpus

    return node2vec_corpus(
        co_order_edges(spark, sf_dir), n_walks=2, length=3, p=2.0, q=0.5
    )


@_q(
    "an_eccentricity_sample",
    CO_ORDER_CTE
    + """
    , edges AS MATERIALIZED (
        SELECT src, dst FROM co_edges UNION ALL SELECT dst, src FROM co_edges
    ),
    r0 AS (SELECT CAST(s AS BIGINT) AS source, CAST(s AS BIGINT) AS node, 0 AS d
           FROM (VALUES (1), (2), (3), (4), (5)) t(s)),
    r1 AS MATERIALIZED (SELECT DISTINCT r.source, e.dst AS node, 1 AS d
           FROM edges e JOIN r0 r ON e.src = r.node),
    r2 AS MATERIALIZED (SELECT DISTINCT r.source, e.dst AS node, 2 AS d
           FROM edges e JOIN r1 r ON e.src = r.node),
    r3 AS MATERIALIZED (SELECT DISTINCT r.source, e.dst AS node, 3 AS d
           FROM edges e JOIN r2 r ON e.src = r.node),
    r4 AS MATERIALIZED (SELECT DISTINCT r.source, e.dst AS node, 4 AS d
           FROM edges e JOIN r3 r ON e.src = r.node),
    reach AS (
        SELECT * FROM r0 UNION ALL SELECT * FROM r1 UNION ALL SELECT * FROM r2
        UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
    ),
    dist AS (SELECT source, node, MIN(d) AS distance FROM reach GROUP BY source, node)
    SELECT source,
           CAST(MAX(distance) AS INT) AS eccentricity,
           COUNT(*) AS n_reached,
           printf('%.6f', AVG(CAST(distance AS DOUBLE))) AS avg_distance
    FROM dist GROUP BY source ORDER BY source
    """,
)
def an_eccentricity_sample(spark, sf_dir):
    """Sampled eccentricities (graph diameter estimation): max/avg BFS
    distance from sources 1-5 within 4 hops — max over the sample is the
    standard diameter lower bound, avg is the mean-path-length estimate.
    Rides the ONE multi-source BFS frame (no per-source jobs); %.6f
    strings per the float-parity rule."""
    from jasminegraph_spark.analytics import multi_source_bfs

    d = multi_source_bfs(co_order_edges(spark, sf_dir), [1, 2, 3, 4, 5], max_hops=4)
    return (
        d.groupBy("source")
        .agg(
            F.max("distance").cast("int").alias("eccentricity"),
            F.count("*").alias("n_reached"),
            F.format_string("%.6f", F.avg(F.col("distance").cast("double"))).alias(
                "avg_distance"
            ),
        )
        .orderBy("source")
    )


@_q(
    "an_local_clustering",
    CO_ORDER_CTE
    + """
    , und AS MATERIALIZED (SELECT src AS a, dst AS b FROM co_edges),
    tri AS MATERIALIZED (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1 JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tri_n AS (
        SELECT v, COUNT(*) AS n_tri FROM (
            SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ) GROUP BY v
    ),
    deg AS (
        SELECT v, COUNT(*) AS degree FROM (
            SELECT a AS v FROM und UNION ALL SELECT b FROM und
        ) GROUP BY v
    )
    SELECT d.v AS node, d.degree,
           CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_triangles,
           printf('%.6f', CASE WHEN d.degree >= 2
               THEN CAST(2.0 AS DOUBLE) * COALESCE(t.n_tri, 0) / (d.degree * (d.degree - 1))
               ELSE 0.0 END) AS lcc
    FROM deg d LEFT JOIN tri_n t ON t.v = d.v
    ORDER BY d.degree DESC, node LIMIT 100
    """,
)
def an_local_clustering(spark, sf_dir):
    """Per-node LOCAL clustering coefficient (2·tri(v) / deg(v)(deg(v)-1))
    for the top-100 nodes by degree — the per-vertex refinement of
    an_clustering_coefficient. Triangle incidence comes from the same
    canonical wedge-join enumeration as `trian`; one explode-free 3-way
    union aggregates per-vertex triangle counts."""
    from jasminegraph_spark.analytics import triangle_list

    und = co_order_edges(spark, sf_dir)
    tri = triangle_list(und)
    tri_n = (
        tri.select(F.col("a").alias("v"))
        .unionAll(tri.select(F.col("b").alias("v")))
        .unionAll(tri.select(F.col("c").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("n_tri"))
    )
    deg = (
        und.select(F.col("src").alias("v"))
        .unionAll(und.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("degree"))
    )
    lcc = F.when(
        F.col("degree") >= 2,
        F.lit(2.0) * F.coalesce("n_tri", F.lit(0)) / (F.col("degree") * (F.col("degree") - 1)),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(tri_n, "v", "left")
        .select(
            F.col("v").alias("node"),
            "degree",
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_triangles"),
            F.format_string("%.6f", lcc).alias("lcc"),
        )
        .orderBy(F.desc("degree"), F.asc("node"))
        .limit(100)
    )


def _hits_oracle(iterations: int) -> str:
    """Unrolled max-normalized HITS on the directed customer→part graph.
    MAX rescaling (not L2) keeps every value an order-independent
    function of the previous round — engine-reproducible."""
    sql = """
    WITH cp AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS src, l_partkey + 10000000 AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    nodes AS (SELECT DISTINCT src AS node FROM cp
              UNION SELECT DISTINCT dst FROM cp),
    s0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS hub,
                  CAST(1.0 AS DOUBLE) AS authority FROM nodes)
    """
    for i in range(iterations):
        sql += f"""
    , ar{i} AS MATERIALIZED (
        SELECT e.dst AS node, SUM(s.hub) AS a_raw
        FROM cp e JOIN s{i} s ON s.node = e.src GROUP BY e.dst
    ),
    a{i} AS MATERIALIZED (
        SELECT node, a_raw / (SELECT MAX(a_raw) FROM ar{i}) AS authority
        FROM ar{i}
    ),
    hr{i} AS MATERIALIZED (
        SELECT e.src AS node, SUM(a.authority) AS h_raw
        FROM cp e JOIN a{i} a ON a.node = e.dst GROUP BY e.src
    ),
    h{i} AS MATERIALIZED (
        SELECT node, h_raw / (SELECT MAX(h_raw) FROM hr{i}) AS hub
        FROM hr{i}
    ),
    s{i + 1} AS MATERIALIZED (
        SELECT n.node, COALESCE(h.hub, 0.0) AS hub,
               COALESCE(a.authority, 0.0) AS authority
        FROM nodes n LEFT JOIN h{i} h ON h.node = n.node
        LEFT JOIN a{i} a ON a.node = n.node
    )"""
    sql += (
        f"\n    SELECT node, ROUND(hub, 6) AS hub,"
        f" ROUND(authority, 6) AS authority FROM s{iterations}"
    )
    return sql


@_q("an_hits", _hits_oracle(3))
def an_hits(spark, sf_dir):
    """HITS hubs/authorities (3 max-normalized rounds) on the directed
    customer→part purchase graph: authorities = widely-bought parts,
    hubs = broad-basket customers. Part ids are offset by 10M so the two
    node spaces never collide. Same broadcast-score loop family as
    pagerank; oracle unrolls the identical recurrence."""
    from jasminegraph_spark.analytics import hits

    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_partkey") + F.lit(10_000_000)).alias("dst"),
        )
        .distinct()
    )
    out = hits(cp, iterations=3)
    return out.select(
        "node", F.round("hub", 6).alias("hub"), F.round("authority", 6).alias("authority")
    )


@_q(
    "an_square_count",
    """
    WITH cp AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS src, l_partkey AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    pairs AS MATERIALIZED (
        SELECT w1.src AS a, w2.src AS b, COUNT(*) AS w
        FROM cp w1 JOIN cp w2 ON w1.dst = w2.dst AND w1.src < w2.src
        GROUP BY w1.src, w2.src
    ),
    sq AS (SELECT CAST(COALESCE(SUM(w * (w - 1) / 2), 0) AS BIGINT) AS n_squares
           FROM pairs),
    dsrc AS (SELECT src, COUNT(*) AS ds FROM cp GROUP BY src),
    ddst AS (SELECT dst, COUNT(*) AS dd FROM cp GROUP BY dst),
    l3 AS (
        SELECT CAST(COALESCE(SUM((ds - 1) * (dd - 1)), 0) AS BIGINT) AS n_l3_paths
        FROM cp e JOIN dsrc ON dsrc.src = e.src JOIN ddst ON ddst.dst = e.dst
    )
    SELECT sq.n_squares, l3.n_l3_paths,
           printf('%.6f', CASE WHEN l3.n_l3_paths > 0
               THEN CAST(4.0 AS DOUBLE) * sq.n_squares / l3.n_l3_paths
               ELSE 0.0 END) AS robins_alexander
    FROM sq, l3
    """,
)
def an_square_count(spark, sf_dir):
    """4-cycle census + Robins-Alexander bipartite clustering coefficient
    (analytics/graph_algs.square_count) of the customer→part purchase
    graph — the bipartite analogue of `trian` (bipartite graphs have no
    triangles; squares are their smallest cycle). One wedge self-join on
    the shared part + closed-form aggregation."""
    from jasminegraph_spark.analytics import square_count

    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst"))
        .distinct()
    )
    out = square_count(cp)
    return out.select(
        "n_squares",
        "n_l3_paths",
        F.format_string("%.6f", F.col("robins_alexander")).alias("robins_alexander"),
    )


def _walk_pmi_oracle(length: int, seeds: tuple, window: int) -> str:
    """The deterministic walk corpus (see _walks_oracle) re-counted into
    windowed co-occurrence pairs + PMI."""
    base = _walks_oracle(length, seeds)
    head, final = base.rsplit(" SELECT source, 0 AS step, node FROM w0", 1)
    walks_union = " SELECT source, 0 AS step, node FROM w0" + final
    sql = head + f"""
    , walks AS MATERIALIZED ({walks_union}),
    pairs AS MATERIALIZED (
        SELECT LEAST(x.node, y.node) AS a, GREATEST(x.node, y.node) AS b
        FROM walks x JOIN walks y ON y.source = x.source
        WHERE y.step > x.step AND y.step - x.step <= {window}
    ),
    cooc AS MATERIALIZED (
        SELECT a, b, COUNT(*) AS n_cooc FROM pairs GROUP BY a, b
    ),
    nodec AS (
        SELECT node, SUM(n_cooc) AS c_node FROM (
            SELECT a AS node, n_cooc FROM cooc
            UNION ALL SELECT b, n_cooc FROM cooc
        ) GROUP BY node
    ),
    tot AS (SELECT SUM(n_cooc) AS t FROM cooc)
    SELECT c.a, c.b, c.n_cooc,
           printf('%.6f', ln(CAST(c.n_cooc AS DOUBLE) * tot.t
                             / (na.c_node * nb.c_node))) AS pmi
    FROM cooc c JOIN nodec na ON na.node = c.a
    JOIN nodec nb ON nb.node = c.b, tot
    ORDER BY c.a, c.b
    """
    return sql


@_q("an_walk_pmi", _walk_pmi_oracle(5, (1, 2, 3, 4, 5), 2))
def an_walk_pmi(spark, sf_dir):
    """Skip-gram co-occurrence PMI over the deterministic walk corpus
    (analytics/graph_algs.walk_cooccurrence_pmi ∘ random_walks) — the
    counting half of DeepWalk feature learning, end-to-end a pure
    function of the graph so the full feature table oracle-checks."""
    from jasminegraph_spark.analytics import random_walks, walk_cooccurrence_pmi

    walks = random_walks(co_order_edges(spark, sf_dir), [1, 2, 3, 4, 5], length=5)
    out = walk_cooccurrence_pmi(walks, window=2)
    return out.select(
        "a", "b", "n_cooc", F.format_string("%.6f", F.col("pmi")).alias("pmi")
    ).orderBy("a", "b")


def _smoothing_oracle(rounds: int, alpha: float) -> str:
    """Unrolled feature propagation: part retailprice smoothed over the
    co-order graph — identical recurrence, engine-portable after 6dp
    rounding (per-round means are single divisions of partial sums)."""
    sql = CO_ORDER_CTE + """
    , adj AS MATERIALIZED (
        SELECT src, dst FROM co_edges UNION ALL SELECT dst, src FROM co_edges
    ),
    f0 AS MATERIALIZED (
        SELECT p_partkey AS node, CAST(p_retailprice AS DOUBLE) AS f
        FROM part WHERE p_partkey IN (SELECT DISTINCT src FROM adj)
    )
    """
    for i in range(rounds):
        sql += f"""
    , nb{i} AS MATERIALIZED (
        SELECT a.src AS node, AVG(f.f) AS nbr_mean
        FROM adj a JOIN f{i} f ON f.node = a.dst GROUP BY a.src
    ),
    f{i + 1} AS MATERIALIZED (
        SELECT f.node,
               {alpha} * f.f + {1.0 - alpha} * COALESCE(nb.nbr_mean, f.f) AS f
        FROM f{i} f LEFT JOIN nb{i} nb ON nb.node = f.node
    )"""
    sql += f"\n    SELECT node, ROUND(f, 6) AS f FROM f{rounds}"
    return sql


@_q("an_feature_smoothing", _smoothing_oracle(2, 0.5))
def an_feature_smoothing(spark, sf_dir):
    """GNN-style feature propagation (analytics/components.
    feature_smoothing, 2 rounds, α=0.5): part retail prices smoothed
    over the co-order graph — the mean-aggregation half of a graph
    convolution, on the pagerank loop plan (broadcast feature table,
    persisted adjacency). Oracle unrolls the same recurrence."""
    from jasminegraph_spark.analytics import feature_smoothing

    e = co_order_edges(spark, sf_dir)
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    part = _read(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        F.col("p_retailprice").cast("double").alias("f"),
    )
    feats = part.join(nodes, "node")
    out = feature_smoothing(e, feats, rounds=2, alpha=0.5)
    return out.select("node", F.round("f", 6).alias("f"))


@_q(
    "an_graph_diff",
    """
    WITH e_old AS MATERIALIZED (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderdate < DATE '1995-01-01'
    ),
    e_new AS MATERIALIZED (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderdate >= DATE '1995-01-01'
    ),
    common AS (SELECT COUNT(*) AS c FROM e_old JOIN e_new USING (a, b))
    SELECT (SELECT COUNT(*) FROM e_old) AS n_edges_old,
           (SELECT COUNT(*) FROM e_new) AS n_edges_new,
           (SELECT c FROM common) AS n_common,
           (SELECT COUNT(*) FROM e_old) - (SELECT c FROM common) AS n_removed,
           (SELECT COUNT(*) FROM e_new) - (SELECT c FROM common) AS n_added,
           printf('%.6f', CAST((SELECT c FROM common) AS DOUBLE)
               / ((SELECT COUNT(*) FROM e_old) + (SELECT COUNT(*) FROM e_new)
                  - (SELECT c FROM common))) AS edge_jaccard
    """,
)
def an_graph_diff(spark, sf_dir):
    """Temporal graph diff: the co-order graph built from pre-1995 orders
    vs the post-1995 graph — added/removed/persisted edge counts and the
    edge-set Jaccard, the snapshot-evolution report a temporal graph
    store serves. Two windowed projections + one equi-join for the
    intersection (anti-join counts fall out arithmetically)."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey)

    def co_edges(df):
        g = df.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("ps")
        )
        return (
            g.select(
                F.explode(
                    F.expr(
                        "flatten(transform(ps, (x, i) -> "
                        "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS a, y AS b))))"
                    )
                ).alias("e")
            )
            .select("e.a", "e.b")
            .distinct()
        )

    e_old = co_edges(j.filter(F.col("o_orderdate") < F.lit("1995-01-01"))).persist()
    e_new = co_edges(j.filter(F.col("o_orderdate") >= F.lit("1995-01-01"))).persist()
    n_old = e_old.count()
    n_new = e_new.count()
    n_common = e_old.join(e_new, ["a", "b"]).count()
    jac = n_common / float(n_old + n_new - n_common)
    out = spark.createDataFrame(
        [(n_old, n_new, n_common, n_old - n_common, n_new - n_common, "%.6f" % jac)],
        "n_edges_old: long, n_edges_new: long, n_common: long, "
        "n_removed: long, n_added: long, edge_jaccard: string",
    )
    e_old.unpersist()
    e_new.unpersist()
    return out


def _rmat_oracle(scale: int, n_edges: int) -> str:
    """The R-MAT recursion replayed in SQL: same md5-uniform per
    (edge, level), same quadrant thresholds, same bit assembly —
    then the degree histogram of the generated graph."""
    expr = "md5(CAST(i AS VARCHAR) || ':' || CAST(l AS VARCHAR))"
    hexpr = "0"
    for k in range(1, 13):  # same Horner form as _hex_to_num_sql (defined later)
        hexpr = (
            f"({hexpr} * 16 + (strpos('0123456789abcdef', substr({expr}, {k}, 1)) - 1))"
        )
    return f"""
    WITH lv AS MATERIALIZED (
        SELECT i, l,
               CAST({hexpr} AS DOUBLE) / 281474976710656.0 AS u
        FROM range({n_edges}) t(i), range({scale}) s(l)
    ),
    bits AS (
        SELECT i,
               SUM(CASE WHEN u >= 0.76 THEN CAST(pow(2, l) AS BIGINT) ELSE 0 END) AS src,
               SUM(CASE WHEN (u >= 0.57 AND u < 0.76) OR u >= 0.95
                        THEN CAST(pow(2, l) AS BIGINT) ELSE 0 END) AS dst
        FROM lv GROUP BY i
    ),
    deg AS (
        SELECT v, COUNT(*) AS degree FROM (
            SELECT src AS v FROM bits UNION ALL SELECT dst FROM bits
        ) GROUP BY v
    )
    SELECT degree, COUNT(*) AS n_nodes FROM deg
    GROUP BY degree ORDER BY degree
    """


@_q("an_rmat_degree_dist", _rmat_oracle(8, 2048))
def an_rmat_degree_dist(spark, sf_dir):
    """Deterministic R-MAT generation (sources/generators.rmat_edges,
    Graph500 quadrant recursion driven by content hashes instead of an
    RNG): a (scale, n_edges) pair names ONE graph on any engine or
    cluster size. 2^8 vertices / 2048 edges here; the driver row checks
    the full degree histogram against the recursion replayed in SQL."""
    from jasminegraph_spark.sources import rmat_edges

    g = rmat_edges(spark, scale=8, n_edges=2048)
    deg = (
        g.select(F.col("src").alias("v"))
        .unionAll(g.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("degree")
    )

def _coreness_oracle(rounds: int) -> str:
    """Unrolled h-index coreness iteration over the co-order graph."""
    sql = CO_ORDER_CTE + """
    , adj AS MATERIALIZED (
        SELECT src, dst FROM co_edges UNION ALL SELECT dst, src FROM co_edges
    ),
    c0 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS core FROM adj GROUP BY src)
    """
    for t in range(rounds):
        sql += f"""
    , h{t} AS MATERIALIZED (
        SELECT node, MAX(CASE WHEN v >= rn THEN rn ELSE 0 END) AS h FROM (
            SELECT a.src AS node, c.core AS v,
                   ROW_NUMBER() OVER (PARTITION BY a.src
                                      ORDER BY c.core DESC) AS rn
            FROM adj a JOIN c{t} c ON c.node = a.dst
        ) GROUP BY node
    ),
    c{t + 1} AS MATERIALIZED (
        SELECT c.node, LEAST(c.core, h.h) AS core
        FROM c{t} c JOIN h{t} h ON h.node = c.node
    )"""
    sql += f"\n    SELECT node, CAST(core AS BIGINT) AS core FROM c{rounds}"
    return sql


@_q("an_core_numbers", _coreness_oracle(4))
def an_core_numbers(spark, sf_dir):
    """Full core decomposition in one job (analytics/components.
    core_numbers, 4 h-index rounds): per-node core numbers via the
    "coreness is a local h-index fixpoint" iteration — subsumes k_core(k)
    for every k. Oracle unrolls the identical recurrence (ROW_NUMBER ties
    are value-ties, so the h-index is tie-order-invariant)."""
    from jasminegraph_spark.analytics import core_numbers

    out = core_numbers(co_order_edges(spark, sf_dir), rounds=4)
    return out.select("node", F.col("core").cast("long").alias("core"))


@_q("an_k_core", _kcore_oracle(80, 30))
def an_k_core(spark, sf_dir):
    """k-core decomposition (k=80) of the co-order graph — the reference
    declares `kcore` in its protocol but never dispatches it; live here.
    Oracle = the peel unrolled for the same 30-round budget."""
    from jasminegraph_spark.analytics import k_core

    return k_core(co_order_edges(spark, sf_dir), k=80, max_iterations=30)


@_q(
    "an_link_prediction",
    CO_ORDER_CTE
    + """
    , adj AS MATERIALIZED (
        SELECT src AS v, dst AS w FROM co_edges
        UNION ALL SELECT dst, src FROM co_edges
    ),
    deg AS MATERIALIZED (SELECT v, COUNT(*) AS deg FROM adj GROUP BY v),
    centers AS (
        SELECT a.v, a.w FROM adj a JOIN deg d ON d.v = a.v
        WHERE d.deg <= 16 * (SELECT CEIL(AVG(deg)) FROM deg)
    ),
    pairs AS (
        SELECT l.w AS a, r.w AS b, COUNT(*) AS common_neighbors
        FROM centers l JOIN centers r ON l.v = r.v AND l.w < r.w
        GROUP BY l.w, r.w
        HAVING COUNT(*) >= 2
    ),
    cand AS (
        SELECT p.* FROM pairs p
        WHERE NOT EXISTS (
            SELECT 1 FROM co_edges e WHERE e.src = p.a AND e.dst = p.b
        )
    )
    SELECT c.a, c.b, c.common_neighbors,
           CAST(c.common_neighbors AS DOUBLE)
             / (da.deg + db.deg - c.common_neighbors) AS jaccard
    FROM cand c JOIN deg da ON da.v = c.a JOIN deg db ON db.v = c.b
    ORDER BY jaccard DESC, c.a, c.b LIMIT 50
    """,
)
def an_link_prediction(spark, sf_dir):
    """Reference `train`/`predict`/`merge` (FrontEnd.cpp:321,333,319 —
    federated GraphSAGE link prediction): the deterministic topological
    predictor — top-50 non-adjacent pairs by neighborhood Jaccard.
    Integer-quotient score → compared unrounded. Wedge centers capped at
    16×⌈avg degree⌉ by default (GraphSAGE sampling budget) so the Σdeg²
    fan-out stays bounded on power-law hubs at scale."""
    from jasminegraph_spark.analytics import link_prediction

    # assume_canonical: co_order_edges is already a<b distinct and
    # session-cached — skip the redundant re-canonicalization exchange
    # and the duplicate persist of the same 2-column rows (r13)
    return link_prediction(
        co_order_edges(spark, sf_dir), top_k=50, min_common=2,
        assume_canonical=True,
    )


@_q(
    "pl_kg_triples",
    """
    SELECT s, p, o, weight, n_docs FROM (
        SELECT s, p, o, COUNT(*) AS weight, COUNT(DISTINCT doc_id) AS n_docs
        FROM (
            SELECT doc_id,
                   split_part(t, ' ', 1) AS s,
                   split_part(t, ' ', 2) AS p,
                   split_part(t, ' ', 3) AS o
            FROM (
                SELECT doc_id,
                       unnest(regexp_extract_all(text, '[a-z]+ [a-z]+ [a-z]+')) AS t
                FROM documents
            )
        )
        GROUP BY s, p, o
    )
    WHERE weight >= 2
    ORDER BY weight DESC, s, p, o LIMIT 100
    """,
)
def pl_kg_triples(spark, sf_dir):
    """Reference `constructkg` (FrontEnd.cpp:270, Pipeline.cpp): documents
    → tuple extraction → weighted triple table. Deterministic regex
    extractor stands in for the LLM streamers (pipeline/kg.py); top-100
    triples by evidence weight."""
    docs = _read(spark, sf_dir, "documents")
    w = pl.triple_weights(pl.extract_triples(docs))
    return (
        w.filter(F.col("weight") >= 2)
        .orderBy(F.desc("weight"), "s", "p", "o")
        .limit(100)
    )


def _beam_oracle(beam_width: int = 5, hops: int = 3, dim: int = 64) -> str:
    """The beam unrolled as hop CTEs: scores are rounded before selection
    in both engines, so every cut (top-w by score desc, node asc, minus
    visited) is deterministic and the unroll is exact. Query vector = unit
    basis e0."""
    qlit = ", ".join(["1.0"] + ["0.0"] * (dim - 1))
    sql = CO_ORDER_CTE + f"""
    , sym_edges AS MATERIALIZED (
        SELECT src, dst FROM co_edges UNION SELECT dst, src FROM co_edges
    ),
    scored AS MATERIALIZED (
        SELECT vec_id AS node,
               ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                            CAST([{qlit}] AS DOUBLE[])), 6) AS score
        FROM embeddings
    ),
    b0 AS (SELECT node, score, 0 AS hop FROM scored
           ORDER BY score DESC, node ASC LIMIT {beam_width}),
    v0 AS (SELECT node FROM b0)
    """
    for h in range(1, hops + 1):
        sql += f"""
    , f{h} AS (
        SELECT DISTINCT e.dst AS node
        FROM sym_edges e JOIN b{h - 1} b ON b.node = e.src
    ),
    b{h} AS (
        SELECT s.node, s.score, {h} AS hop
        FROM scored s JOIN f{h} USING (node)
        WHERE s.node NOT IN (SELECT node FROM v{h - 1})
        ORDER BY s.score DESC, s.node ASC LIMIT {beam_width}
    ),
    v{h} AS (SELECT node FROM v{h - 1} UNION SELECT node FROM b{h})"""
    union = " UNION ALL ".join(f"SELECT * FROM b{h}" for h in range(hops + 1))
    return sql + f"\n    SELECT node, score, hop FROM ({union})"


@_q("an_semantic_beam_search", _beam_oracle(5, 3, 64))
def an_semantic_beam_search(spark, sf_dir):
    """Reference GenAI surface: multi-hop beam search guided by embedding
    similarity (SemanticBeamSearch.cpp). Graph = co-order parts; embeddings
    joined by id; query = unit basis vector. Scores are rounded before
    every beam cut, so the iterative beam IS oracle-expressible as
    unrolled hop CTEs; the path column (array-typed, engine-specific
    rendering) is exposed by the operator but trimmed from the driver
    row contract."""
    from jasminegraph_spark.analytics import semantic_beam_search

    emb = _read(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    q = [1.0] + [0.0] * (dim - 1)
    return semantic_beam_search(
        co_order_edges(spark, sf_dir), emb, q, beam_width=5, hops=3
    ).select("node", "score", "hop")


# ---------------------------------------------------------------------------
# Cypher frontend end-to-end: text → parse → compile → DataFrame
# (the reference's full query lifecycle, SURVEY §3.1)
# ---------------------------------------------------------------------------


def _cy(spark, sf_dir, text):
    from jasminegraph_spark.cypher import cypher_query

    return cypher_query(_g(spark, sf_dir), text)


@_q(
    "cypher_label_scan_project",
    TPCH_GRAPH_CTE + "SELECT 'c:' || c_custkey AS id, c_name AS name FROM customer",
)
def cypher_label_scan_project(spark, sf_dir):
    return _cy(spark, sf_dir, "MATCH (n:Customer) RETURN id(n) AS id, n.name AS name")


@_q(
    "cypher_filter_expand",
    TPCH_GRAPH_CTE
    + """
    SELECT 'c:' || c.c_custkey AS c_id, 'o:' || o.o_orderkey AS o_id,
           'p:' || l.l_partkey AS p_id
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_nationkey = 1
    """,
)
def cypher_filter_expand(spark, sf_dir):
    return _cy(
        spark,
        sf_dir,
        "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) "
        "WHERE c.nationkey = 1 "
        "RETURN id(c) AS c_id, id(o) AS o_id, id(p) AS p_id",
    )


@_q(
    "cypher_undirected_unique",
    TPCH_GRAPH_CTE
    + """
    , sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
    SELECT 'p:' || s1.l_partkey AS p_id, 's:' || s2.l_suppkey AS s2_id
    FROM sp s1 JOIN sp s2 ON s1.l_partkey = s2.l_partkey
    WHERE s1.l_suppkey = 1 AND s2.l_suppkey <> 1
    """,
)
def cypher_undirected_unique(spark, sf_dir):
    """Edge-uniqueness filters are injected by the compiler, mirroring the
    reference planner (QueryPlanner.cpp:571-582)."""
    return _cy(
        spark,
        sf_dir,
        "MATCH (s1:Supplier)-[r1:SUPPLIES]->(p:Part)<-[r2:SUPPLIES]-(s2:Supplier) "
        "WHERE id(s1) = 's:1' RETURN id(p) AS p_id, id(s2) AS s2_id",
    )


@_q(
    "cypher_aggregate_group",
    """
    SELECT c_mktsegment AS seg, COUNT(*) AS n,
           AVG(c_nationkey) AS avg_nation,
           MIN(c_name) AS first_name
    FROM customer GROUP BY c_mktsegment
    """,
)
def cypher_aggregate_group(spark, sf_dir):
    """Grouped aggregates — avg over integer-valued properties is exact in
    doubles, so no rounding is needed for oracle parity."""
    return _cy(
        spark,
        sf_dir,
        "MATCH (n:Customer) RETURN n.mktsegment AS seg, count(*) AS n, "
        "avg(n.nationkey) AS avg_nation, min(n.name) AS first_name",
    )


@_q(
    "cypher_string_preds",
    """
    SELECT 'p:' || p_partkey AS id, p_name AS name FROM part
    WHERE starts_with(p_name, 'a') OR contains(p_brand, '1')
    """,
)
def cypher_string_preds(spark, sf_dir):
    return _cy(
        spark,
        sf_dir,
        "MATCH (n:Part) WHERE n.name STARTS WITH 'a' OR n.brand CONTAINS '1' "
        "RETURN id(n) AS id, n.name AS name",
    )


@_q(
    "cypher_scalar_functions",
    """
    SELECT 'p:' || p_partkey AS id,
           upper(p_name) AS uname,
           length(p_name) AS name_len,
           substr(p_name, 2, 5) AS mid,
           CAST(CAST(floor(CAST(p_retailprice AS DOUBLE)) AS BIGINT) AS BIGINT)
               AS price_floor,
           round(CAST(p_retailprice AS DOUBLE), 1) AS price_r
    FROM part
    WHERE regexp_full_match(p_name, '.*l.* .*d.*')
    ORDER BY id
    """,
)
def cypher_scalar_functions(spark, sf_dir):
    """openCypher scalar functions (toUpper/size/substring/floor/round)
    and the `=~` full-string regex — each compiles 1:1 onto a Catalyst
    built-in (cypher/compiler.py _scalar), so the whole RETURN stays
    inside whole-stage codegen. Reference grammar: CypherParser.g4
    function invocation rules; executor had no scalar-function support."""
    return _cy(
        spark,
        sf_dir,
        "MATCH (n:Part) WHERE n.name =~ '.*l.* .*d.*' "
        "RETURN id(n) AS id, toUpper(n.name) AS uname, size(n.name) AS name_len, "
        "substring(n.name, 1, 5) AS mid, floor(n.retailprice) AS price_floor, "
        "round(n.retailprice, 1) AS price_r ORDER BY id",
    )


@_q(
    "cypher_in_order_skip_limit",
    """
    SELECT 'c:' || c_custkey AS id, c_name AS name FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ORDER BY name ASC NULLS LAST LIMIT 25 OFFSET 5
    """,
)
def cypher_in_order_skip_limit(spark, sf_dir):
    return _cy(
        spark,
        sf_dir,
        "MATCH (n:Customer) WHERE n.mktsegment IN ['BUILDING', 'MACHINERY'] "
        "RETURN id(n) AS id, n.name AS name ORDER BY name ASC SKIP 5 LIMIT 25",
    )


@_q(
    "cypher_distinct_null_checks",
    """
    SELECT DISTINCT c_mktsegment AS seg FROM customer WHERE c_name IS NOT NULL
    """,
)
def cypher_distinct_null_checks(spark, sf_dir):
    return _cy(
        spark,
        sf_dir,
        "MATCH (n:Customer) WHERE n.name IS NOT NULL RETURN DISTINCT n.mktsegment AS seg",
    )


@_q(
    "cypher_cartesian_patterns",
    TPCH_GRAPH_CTE
    + """
    SELECT r.id AS r_id, n.id AS n_id
    FROM (SELECT id FROM g_nodes WHERE label = 'Region') r,
         (SELECT id FROM g_nodes WHERE label = 'Nation') n
    """,
)
def cypher_cartesian_patterns(spark, sf_dir):
    return _cy(
        spark, sf_dir, "MATCH (r:Region), (n:Nation) RETURN id(r) AS r_id, id(n) AS n_id"
    )


@_q(
    "cypher_with_agg_having",
    """
    SELECT c.c_mktsegment AS seg, COUNT(*) AS n_orders
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment HAVING COUNT(*) > 100
    """,
)
def cypher_with_agg_having(spark, sf_dir):
    """WITH aggregation + post-aggregate WHERE = SQL HAVING (the
    reference's Apply sequencing, real column semantics)."""
    return _cy(
        spark,
        sf_dir,
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WITH c.mktsegment AS seg, count(*) AS n_orders WHERE n_orders > 100 "
        "RETURN seg, n_orders",
    )


@_q(
    "cypher_optional_match",
    """
    SELECT n.n_name AS nation, 's:' || s.s_suppkey AS supp_id
    FROM nation n LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
    """,
)
def cypher_optional_match(spark, sf_dir):
    """OPTIONAL MATCH = left outer expansion; nations without suppliers
    survive null-extended."""
    return _cy(
        spark,
        sf_dir,
        "MATCH (n:Nation) OPTIONAL MATCH (n)<-[r:LOCATED_IN]-(s:Supplier) "
        "RETURN n.name AS nation, id(s) AS supp_id",
    )


@_q(
    "cypher_unwind",
    """
    SELECT CAST(t.x AS BIGINT) AS x, r.r_name AS rname
    FROM (VALUES (1), (2), (3)) t(x), region r
    """,
)
def cypher_unwind(spark, sf_dir):
    return _cy(
        spark, sf_dir, "UNWIND [1, 2, 3] AS x MATCH (r:Region) RETURN x, r.name AS rname"
    )


@_q(
    "cypher_varlength_path",
    TPCH_GRAPH_CTE
    + """
    , sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
    SELECT DISTINCT x AS id FROM (
        SELECT 'p:' || l_partkey AS x FROM sp WHERE l_suppkey = 1
        UNION
        SELECT 's:' || s2.l_suppkey
        FROM sp s1 JOIN sp s2 ON s1.l_partkey = s2.l_partkey
        WHERE s1.l_suppkey = 1 AND s2.l_suppkey <> 1
    )
    """,
)
def cypher_varlength_path(spark, sf_dir):
    """Variable-length pattern: everything within 1..2 SUPPLIES hops of
    supplier 1 — parts it supplies plus co-suppliers (per-path edge
    uniqueness excludes bouncing back on the same edge)."""
    return _cy(
        spark,
        sf_dir,
        "MATCH (s:Supplier)-[:SUPPLIES*1..2]-(x) WHERE id(s) = 's:1' "
        "RETURN DISTINCT id(x) AS id",
    )


@_q(
    "cypher_union_text",
    """
    SELECT 'c:' || c_custkey AS id, 'building' AS tag FROM customer
    WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT 's:' || s_suppkey, 'supplier' FROM supplier
    """,
)
def cypher_union_text(spark, sf_dir):
    """Text-level UNION ALL of two independent query arms (each with its
    own fresh compiler scope; unionByName enforces the spec's same-
    column-names rule; mixing UNION with UNION ALL raises, as in Neo4j).
    The reference grammar recognizes UNION, its planner never did."""
    return _cy(
        spark,
        sf_dir,
        "MATCH (n:Customer) WHERE n.mktsegment = 'BUILDING' "
        "RETURN id(n) AS id, 'building' AS tag "
        "UNION ALL MATCH (n:Supplier) RETURN id(n) AS id, 'supplier' AS tag",
    )


@_q(
    "cypher_shortest_path",
    TPCH_GRAPH_CTE
    + """
    , sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
    d1 AS (SELECT DISTINCT 'p:' || l_partkey AS id FROM sp WHERE l_suppkey = 1),
    d2 AS (
        SELECT DISTINCT 's:' || s2.l_suppkey AS id
        FROM sp s1 JOIN sp s2 ON s1.l_partkey = s2.l_partkey
        WHERE s1.l_suppkey = 1 AND s2.l_suppkey <> 1
    ),
    d3 AS (
        SELECT DISTINCT 'p:' || s3.l_partkey AS id
        FROM sp s1
        JOIN sp s2 ON s1.l_partkey = s2.l_partkey
        JOIN sp s3 ON s3.l_suppkey = s2.l_suppkey
        WHERE s1.l_suppkey = 1 AND s2.l_suppkey <> 1
          AND 'p:' || s3.l_partkey NOT IN (SELECT id FROM d1)
    )
    SELECT id, 1 AS dist FROM d1
    UNION ALL SELECT id, 2 FROM d2
    UNION ALL SELECT id, 3 FROM d3
    ORDER BY dist, id
    """,
)
def cypher_shortest_path(spark, sf_dir):
    """shortestPath((s)-[:SUPPLIES*1..3]-(x)): min-hop distance to every
    node within 3 SUPPLIES hops of supplier 1 (the supplies graph is
    bipartite, so dist 1/3 are parts and dist 2 is co-suppliers). The
    property-map anchor prunes the source BEFORE expansion — the
    hop-union never fans out from other suppliers; the per-pair
    row_number window then takes the minimum branch. Oracle is BFS
    unrolled level by level. Reference: shortest paths exist only as the
    procedure surface (CALL jg.shortestPaths); the pattern form was
    grammar-recognized, never planned."""
    return _cy(
        spark,
        sf_dir,
        "MATCH p = shortestPath((s:Supplier {name: 'Supplier#000000001'})"
        "-[:SUPPLIES*1..3]-(x)) "
        "RETURN id(x) AS id, length(p) AS dist ORDER BY dist, id",
    )


@_q(
    "cypher_exists_patterns",
    """
    SELECT 'p:' || p_partkey AS id FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
      AND p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_suppkey = 1)
    """,
)
def cypher_exists_patterns(spark, sf_dir):
    """EXISTS / NOT EXISTS pattern predicates → semi/anti joins: parts
    that are ordered but not supplied by supplier 1."""
    return _cy(
        spark,
        sf_dir,
        "MATCH (p:Part) WHERE exists((p)<-[:CONTAINS]-(o)) "
        "AND NOT exists((p)<-[:SUPPLIES]-(s:Supplier {name: 'Supplier#000000001'})) "
        "RETURN id(p) AS id",
    )


@_q(
    "cypher_case_expression",
    """
    SELECT 'c:' || c_custkey AS id,
           CASE WHEN c_acctbal > 5000.0 THEN 'high'
                WHEN c_acctbal > 0.0 THEN 'mid'
                ELSE 'neg' END AS tier
    FROM customer
    """,
)
def cypher_case_expression(spark, sf_dir):
    return _cy(
        spark,
        sf_dir,
        "MATCH (c:Customer) RETURN id(c) AS id, "
        "CASE WHEN c.acctbal > 5000.0 THEN 'high' "
        "WHEN c.acctbal > 0.0 THEN 'mid' ELSE 'neg' END AS tier",
    )


@_q(
    "cypher_arithmetic",
    """
    SELECT 'c:' || c_custkey AS id, c_acctbal * 2.0 + 10.0 AS v
    FROM customer WHERE c_acctbal * 2.0 + 10.0 > 15000.0
    """,
)

def cypher_arithmetic(spark, sf_dir):
    """Arithmetic in WHERE and RETURN — grammar-recognized but unplanned
    in the reference. Per-row products are IEEE-deterministic, so raw
    doubles compare exactly."""
    return _cy(
        spark,
        sf_dir,
        "MATCH (c:Customer) WHERE c.acctbal * 2.0 + 10.0 > 15000.0 "
        "RETURN id(c) AS id, c.acctbal * 2.0 + 10.0 AS v",
    )


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def cypher_list_predicates(spark, sf_dir):
    """ANY/ALL/SINGLE list predicates (grammar surface the reference AST
    recognizes but never plans — SURVEY §2.1) compiled to Spark
    higher-order functions exists/forall on the collected list."""
    return _cy(
        spark,
        sf_dir,
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WITH c.name AS name, collect(o.totalprice) AS totals "
        "WHERE all(t IN totals WHERE t > 60000.0) "
        "AND any(t IN totals WHERE t > 150000.0) "
        "AND NOT single(t IN totals WHERE t > 0.0) "
        "RETURN name ORDER BY name",
    )


def cypher_list_comprehension(spark, sf_dir):
    """[x IN list WHERE p | m] comprehension → filter+transform (JVM-side
    HOFs), exploded back to rows by UNWIND."""
    return _cy(
        spark,
        sf_dir,
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WITH c.name AS name, collect(o.totalprice) AS totals "
        "UNWIND [t IN totals WHERE t > 200000.0 | t / 1000.0] AS big_k "
        "RETURN name, count(big_k) AS n_big, max(big_k) AS max_big_k "
        "ORDER BY name",
    )


_QUERIES["cypher_list_predicates"] = cypher_list_predicates
_ORACLES["cypher_list_predicates"] = """
    SELECT c_name AS name
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_name
    HAVING MIN(o_totalprice) > 60000 AND MAX(o_totalprice) > 150000
       AND COUNT(*) <> 1
    ORDER BY name
"""
def cypher_reduce(spark, sf_dir):
    """reduce(acc = init, x IN list | expr) fold → aggregate() HOF
    (JVM-side; init routed through array-concat type coercion). Folds
    floor()ed order totals so the fold is integer-associative —
    collect() order is nondeterministic, so a float fold would be
    run-order-dependent on BOTH engines."""
    return _cy(
        spark,
        sf_dir,
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WITH c.name AS name, collect(o.totalprice) AS totals "
        "WITH name, size(totals) AS n_orders, [t IN totals | floor(t)] AS itotals "
        "RETURN name, n_orders, "
        "reduce(acc = 0, t IN itotals | acc + t) AS folded_total "
        "ORDER BY name",
    )


_QUERIES["cypher_reduce"] = cypher_reduce
_ORACLES["cypher_reduce"] = """
    SELECT c_name AS name, COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS folded_total
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_name
    ORDER BY name
"""


def cypher_pattern_comprehension(spark, sf_dir):
    """Pattern comprehension [(c)-[:T]->(o) WHERE p | expr] — one list
    per row over the matches of an anchored subpattern (compiled as
    distinct-anchor expansion + sorted collect_list + left join with
    empty-list coalesce; cypher/compiler.py
    materialize_pattern_comprehensions). size() and an integer reduce()
    fold keep the driver frame scalar."""
    return _cy(
        spark,
        sf_dir,
        "MATCH (c:Customer) "
        "RETURN c.name AS name, "
        "size([(c)-[:PLACED]->(o) | o.totalprice]) AS n_orders, "
        "reduce(acc = 0, t IN [(c)-[:PLACED]->(o) "
        "WHERE o.totalprice > 200000.0 | floor(o.totalprice)] | acc + t) "
        "AS big_floor_sum "
        "ORDER BY name",
    )


_QUERIES["cypher_pattern_comprehension"] = cypher_pattern_comprehension
_ORACLES["cypher_pattern_comprehension"] = """
    SELECT c_name AS name,
           CAST(COUNT(o_orderkey) AS INT) AS n_orders,
           CAST(COALESCE(SUM(CASE WHEN o_totalprice > 200000.0
                    THEN CAST(FLOOR(o_totalprice) AS BIGINT) END), 0) AS BIGINT)
               AS big_floor_sum
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_name ORDER BY name
"""


_QUERIES["cypher_list_comprehension"] = cypher_list_comprehension
_ORACLES["cypher_list_comprehension"] = """
    SELECT c_name AS name, COUNT(*) AS n_big,
           MAX(o_totalprice / 1000.0) AS max_big_k
    FROM customer JOIN orders ON o_custkey = c_custkey
    WHERE o_totalprice > 200000.0
    GROUP BY c_name
    ORDER BY name
"""


def pl_ivf_ann_nprobe(spark, sf_dir):
    """Multi-probe IVF ANN (nprobe=4): recall/latency knob of the FAISS
    IVF family — candidates from the query's 4 nearest cells, exact rank
    within them (scan cost 4·|corpus|/16)."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pl.ivf_ann(emb, queries, k=5, n_cells=16, nprobe=4)


_QUERIES["pl_ivf_ann_nprobe"] = pl_ivf_ann_nprobe
_ORACLES["pl_ivf_ann_nprobe"] = """
    WITH cents AS (
        SELECT vec_id AS cell, embedding AS cv FROM embeddings
        ORDER BY vec_id ASC LIMIT 16
    ), assign AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                              CAST(c.cv AS DOUBLE[])) DESC,
                       c.cell ASC) AS rn
            FROM embeddings e, cents c
        ) WHERE rn = 1
    ), q AS (
        SELECT query_id, cell, qv FROM (
            SELECT e.vec_id AS query_id, c.cell, e.embedding AS qv,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                              CAST(c.cv AS DOUBLE[])) DESC,
                       c.cell ASC) AS rn
            FROM embeddings e, cents c WHERE e.vec_id < 10
        ) WHERE rn <= 4
    ), scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])), 6) AS cosine
        FROM embeddings e
        JOIN assign a ON a.vec_id = e.vec_id
        JOIN q ON q.cell = a.cell AND e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
        FROM scored
    ) WHERE rank <= 5
"""


@_q(
    "pl_pack_sequences",
    """
    WITH base AS (
        SELECT lang AS grp, substr(md5(text), 1, 1) AS shard, doc_id,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT grp, shard, doc_id, n_tokens,
               CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY grp, shard ORDER BY doc_id)
                           - n_tokens) / 512.0) AS BIGINT) AS pack_id
        FROM base
    )
    SELECT grp, CAST(COUNT(DISTINCT (shard, pack_id)) AS BIGINT) AS n_packs,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           printf('%.6f', CAST(SUM(n_tokens) AS DOUBLE)
                          / (COUNT(DISTINCT (shard, pack_id)) * 512.0)) AS fill_ratio
    FROM packed GROUP BY grp ORDER BY grp
    """,
)
def pl_pack_sequences(spark, sf_dir):
    """Context-window packing (beyond-reference LLM-pipeline op): stream
    docs into 512-token packs within (lang, md5-shard) partitions —
    16 bounded window partitions per lang, never one global sort. Reports
    per-lang pack counts and mean fill ratio."""
    # spread=False: pure-JVM window pack, exchange-dominated when spread
    # (0.85 vs 0.56 s at sf0.1, _read docstring)
    return pl.packing_stats(
        _read(spark, sf_dir, "documents", spread=False), token_budget=512
    )


@_q(
    "pl_quality_filter_chain",
    """
    WITH scored AS (
        SELECT lang,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens,
               CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE)
                   / len(string_split_regex(trim(text), '\\s+')) AS ttr
        FROM documents
    )
    SELECT CASE WHEN lang NOT IN ('en', 'de', 'fr') THEN 'bad_lang'
                WHEN n_tokens < 5 THEN 'too_short'
                WHEN n_tokens > 5000 THEN 'too_long'
                WHEN ttr < 0.3 THEN 'low_ttr'
                ELSE 'keep' END AS reason,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM scored GROUP BY 1 ORDER BY reason
    """,
)
def pl_quality_filter_chain(spark, sf_dir):
    """Corpus filter funnel with first-failing-reason attribution
    (bad_lang → too_short → too_long → low_ttr → keep) — the attrition
    report a data team audits before training."""
    return pl.quality_filter_chain(_read(spark, sf_dir, "documents"))


@_q(
    "pl_repetition_scores",
    """
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM documents
    ),
    base AS (
        SELECT doc_id, len(t) AS n_tokens,
               1.0 - CAST(len(list_distinct(list_transform(
                         generate_series(1, len(t) - 1),
                         i -> t[i] || ' ' || t[i + 1]))) AS DOUBLE)
                     / (len(t) - 1) AS dup_bigram_frac
        FROM toks WHERE len(t) >= 2
    ),
    tc AS (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, UNNEST(t) AS tok FROM toks)
        GROUP BY doc_id, tok
    ),
    top AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_token_frac
            FROM tc GROUP BY doc_id)
    SELECT b.doc_id, b.n_tokens,
           printf('%.6f', b.dup_bigram_frac) AS dup_bigram_frac,
           printf('%.6f', t.top_token_frac) AS top_token_frac
    FROM base b JOIN top t USING (doc_id) ORDER BY b.doc_id
    """,
)
def pl_repetition_scores(spark, sf_dir):
    """Gopher/MassiveText repetition rules at token level (beyond-
    reference quality signal): duplicate-bigram fraction (pure array
    expressions, no shuffle) + top-token share (one partial-agg count).
    Exact single-division rationals, emitted %.6f."""
    rep = pl.repetition_scores(_read(spark, sf_dir, "documents"))
    return rep.select(
        "doc_id",
        "n_tokens",
        F.format_string("%.6f", F.col("dup_bigram_frac")).alias("dup_bigram_frac"),
        F.format_string("%.6f", F.col("top_token_frac")).alias("top_token_frac"),
    ).orderBy("doc_id")


_GOPHER_STOP_SQL = " + ".join(
    f"(CASE WHEN regexp_matches(lower(text), '\\b{w}\\b') THEN 1 ELSE 0 END)"
    for w in ("the", "be", "to", "of", "and", "that", "have", "with")
)


@_q(
    "pl_c4_rules",
    r"""
    WITH structured AS (
        SELECT doc_id,
               regexp_replace(text,
                   '(\S+ \S+ \S+ \S+ \S+ \S+) ', '\1.' || chr(10), 'g')
               || (CASE WHEN doc_id % 17 = 0
                   THEN chr(10) || 'lorem ipsum dolor sit amet tonight.' ELSE '' END)
               || (CASE WHEN doc_id % 13 = 0
                   THEN chr(10) || 'var config = { mode: 1 }.' ELSE '' END)
               || (CASE WHEN doc_id % 11 = 0
                   THEN chr(10) || 'this page uses javascript for everything okay.'
                   ELSE '' END) AS text
        FROM documents
    ), per AS (
        SELECT doc_id, text,
               string_split(text, chr(10)) AS lines,
               list_filter(string_split(text, chr(10)),
                   x -> regexp_matches(rtrim(x), '[.!?"]$')
                        AND len(regexp_split_to_array(trim(x), '\s+')) >= 5
                        AND NOT contains(lower(x), 'javascript')) AS kept
        FROM structured WHERE len(trim(text)) > 0
    ), sig AS (
        SELECT doc_id,
               CAST(len(lines) AS INT) AS n_lines,
               CAST(len(kept) AS INT) AS n_kept_lines,
               CAST(CASE WHEN len(array_to_string(kept, chr(10))) > 0
                    THEN len(regexp_split_to_array(
                             array_to_string(kept, chr(10)), '[.!?]')) - 1
                    ELSE 0 END AS INT) AS n_sentences,
               CAST(CASE WHEN len(trim(array_to_string(kept, chr(10)))) > 0
                    THEN len(regexp_split_to_array(
                             trim(array_to_string(kept, chr(10))), '\s+'))
                    ELSE 0 END AS INT) AS kept_words,
               CAST(contains(lower(text), 'lorem ipsum') AS INT) AS has_lorem,
               CAST(contains(text, '{') AS INT) AS has_brace
        FROM per
    )
    SELECT *,
           CAST(has_lorem = 0 AND has_brace = 0 AND n_sentences >= 3 AS INT)
               AS passes
    FROM sig ORDER BY doc_id
    """,
)
def pl_c4_rules(spark, sf_dir):
    """C4 page-cleaning heuristics (Raffel et al. JMLR 2020 §2.2 —
    pipeline/text.c4_rules) under the driver's hash check. The synthetic
    corpus has no sentence structure, so the query first RESTRUCTURES it
    deterministically — a period+newline after every 6th word, plus
    lorem-ipsum / curly-brace / javascript lines injected on fixed id
    residues — with the identical regexp in the DuckDB twin; then the
    line filter (terminal punct + ≥5 words + no 'javascript'), sentence
    floor, and boilerplate page-drops all produce exact integer signals
    both engines hash-match. Zero shuffles; one narrow projection."""
    # pin before the sort (r13, see _pin): the child is a map-only regex
    # pass, so the range-partitioner sampling would execute it twice
    return _c4_rules_prepin(spark, sf_dir).transform(_pin).orderBy("doc_id")


def _c4_rules_prepin(spark, sf_dir):
    """pl_c4_rules' pipeline BEFORE the pin+sort — shared with
    tests/test_plans.py (ADVICE r13 #4) so the single-scan / no-shuffle
    chain property is asserted on the very frame the declared query pins."""
    from jasminegraph_spark.pipeline import c4_rules

    docs = _read(spark, sf_dir, "documents")
    t2 = F.concat(
        F.regexp_replace(F.col("text"), r"(\S+ \S+ \S+ \S+ \S+ \S+) ", "$1.\n"),
        F.when(
            F.col("doc_id") % 17 == 0,
            F.lit("\nlorem ipsum dolor sit amet tonight."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0, F.lit("\nvar config = { mode: 1 }.")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit("\nthis page uses javascript for everything okay."),
        ).otherwise(F.lit("")),
    )
    return c4_rules(docs.select("doc_id", t2.alias("text")))


@_q(
    "pl_gopher_rules",
    f"""
    WITH base AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
               length(regexp_replace(trim(text), '\\s', '', 'g')) AS word_chars,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                   w -> regexp_matches(w, '[a-zA-Z]'))) AS n_alpha_words,
               len(string_split(text, chr(10))) AS n_lines,
               len(list_filter(string_split(text, chr(10)),
                   ln -> ltrim(ln) LIKE '-%' OR ltrim(ln) LIKE '*%'
                      OR ltrim(ln) LIKE '•%')) AS n_bullet_lines,
               len(list_filter(string_split(text, chr(10)),
                   ln -> rtrim(ln) LIKE '%...' OR rtrim(ln) LIKE '%…'))
                   AS n_ellipsis_lines,
               CAST((length(text) - length(replace(text, '#', '')))
                  + (length(text) - length(replace(text, '…', ''))) AS INT)
                   AS n_symbols,
               CAST({_GOPHER_STOP_SQL} AS INT) AS n_stop_hits
        FROM documents WHERE length(trim(text)) > 0
    )
    SELECT *,
           CAST((n_words BETWEEN 50 AND 100000
                 AND word_chars >= 3 * n_words AND word_chars <= 10 * n_words
                 AND 10 * n_symbols <= n_words
                 AND 10 * n_bullet_lines <= 9 * n_lines
                 AND 10 * n_ellipsis_lines <= 3 * n_lines
                 AND 5 * n_alpha_words >= 4 * n_words
                 AND n_stop_hits >= 2) AS INT) AS passes
    FROM base ORDER BY doc_id
    """,
)
def pl_gopher_rules(spark, sf_dir):
    """The FULL Gopher/MassiveText document rule filter (pipeline/
    text.gopher_rules — word-count/mean-word-length bounds, symbol
    ratio, bullet/ellipsis line fractions, alphabetic-word share,
    stopword containment; Rae et al. 2021 App. A), next to the
    repetition signals already shipped. Every signal is an exact
    integer and `passes` is cross-multiplied integer arithmetic, so
    the whole rule set hash-matches the SQL twin."""
    return pl.gopher_rules(_read(spark, sf_dir, "documents")).orderBy("doc_id")


@_q(
    "pl_pii_redact",
    """
    WITH c AS (
        SELECT doc_id,
               len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
               len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS n_ssn,
               len(regexp_extract_all(text, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS n_phone,
               len(regexp_extract_all(text,
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ipv4,
               length(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'),
                   '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'),
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IPV4>', 'g'))
               AS redacted_len
        FROM documents
    )
    SELECT COUNT(*) AS n_docs,
           COUNT(*) FILTER (n_email + n_ssn + n_phone + n_ipv4 > 0) AS n_flagged,
           CAST(SUM(n_email) AS BIGINT) AS total_email,
           CAST(SUM(n_ssn) AS BIGINT) AS total_ssn,
           CAST(SUM(n_phone) AS BIGINT) AS total_phone,
           CAST(SUM(n_ipv4) AS BIGINT) AS total_ipv4,
           CAST(SUM(redacted_len) AS BIGINT) AS total_redacted_chars
    FROM c
    """,
)
def pl_pii_redact(spark, sf_dir):
    """PII scrubbing audit (beyond-reference corpus-hygiene op): typed
    regex redaction (email/SSN/phone/IPv4) with per-type hit counts —
    a pure map stage (regexp_count + chained regexp_replace, no shuffle);
    the audit aggregate is one partial-agg reduce. Patterns live in the
    RE2 ∩ java.regex intersection so the oracle mirrors them verbatim.
    The synthetic corpus carries no PII — the zero counts ARE the
    assertion here; tests/test_scrub.py injects PII and checks spans."""
    red = pl.pii_redact(_read(spark, sf_dir, "documents"))
    return red.agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("n_redactions") > 0).cast("long")).alias("n_flagged"),
        F.sum("n_email").cast("long").alias("total_email"),
        F.sum("n_ssn").cast("long").alias("total_ssn"),
        F.sum("n_phone").cast("long").alias("total_phone"),
        F.sum("n_ipv4").cast("long").alias("total_ipv4"),
        F.sum(F.length("redacted_text")).cast("long").alias("total_redacted_chars"),
    )


@_q(
    "pl_decontaminate",
    """
    WITH toks AS (
        SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, source, array_to_string(t[i:i+3], ' ') AS ngram
        FROM toks, UNNEST(generate_series(1, greatest(len(t) - 3, 0))) AS u(i)
        WHERE len(t) >= 4
    ),
    bench AS (SELECT DISTINCT ngram FROM grams WHERE source = 'src0')
    SELECT g.doc_id, COUNT(*) AS n_hit_ngrams
    FROM grams g JOIN bench USING (ngram)
    WHERE g.source <> 'src0'
    GROUP BY g.doc_id ORDER BY g.doc_id
    """,
)
def pl_decontaminate(spark, sf_dir):
    """Benchmark decontamination (beyond-reference pretraining-hygiene
    op): flag training docs (source≠src0) sharing any word 4-gram with
    the held-out set (source=src0) — the GPT-3/PaLM n-gram-overlap check.
    The benchmark n-gram set is tiny and BROADCASTS; the corpus side
    never shuffles for the probe, then one partial-agg groupBy counts
    hit-grams per contaminated doc."""
    docs = _read(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    return pl.decontaminate(train, bench, n=4).orderBy("doc_id")


@_q(
    "pl_tfidf_keywords",
    """
    WITH terms AS (
        SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS score
        FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tf, df, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term) AS rank
        FROM scored
    )
    SELECT doc_id, term, tf, df, printf('%.6f', score) AS score, rank
    FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
    """,
)
def pl_tfidf_keywords(spark, sf_dir):
    """Per-document TF-IDF keyword extraction (beyond-reference text-
    analysis op): smoothed idf = ln((N+1)/(df+1))+1; top-3 terms per doc
    via a rank window partitioned BY DOC (bounded partitions, no global
    sort). Scores ship %.6f (engine-portable float rule)."""
    top = pl.tfidf_top_terms(_read(spark, sf_dir, "documents"), k=3)
    return top.select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.format_string("%.6f", F.col("score")).alias("score"),
        "rank",
    ).orderBy("doc_id", "rank")




@_q(
    "src_jsonl_roundtrip",
    """
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE doc_id < 100
    GROUP BY lang ORDER BY lang
    """,
)
def src_jsonl_roundtrip(spark, sf_dir):
    """SOURCES driver row (§2.4 readers — previously pytest-only
    evidence): a document slice exports to JSON-lines (the LLM-corpus
    interchange format) and comes back through read_documents_jsonl
    (explicit schema, no inference pass, content-hash ids); the per-lang
    aggregate must survive the round trip exactly. The oracle reads the
    original table — equality proves the export+reader pair lossless."""
    import shutil
    import tempfile

    from jasminegraph_spark.sources import read_documents_jsonl

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    out_dir = tempfile.mkdtemp(prefix="jgs_jsonl_")
    try:
        docs.select("text", "lang", "source").write.mode("overwrite").json(out_dir)
        back = read_documents_jsonl(spark, out_dir)
        agg = (
            back.groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
            )
            .orderBy("lang")
        )
        # materialize before the scratch dir is removed (the returned
        # frame is otherwise lazy over files we are about to delete)
        rows, schema = agg.collect(), agg.schema
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@_q(
    "src_graphml_roundtrip",
    """
    SELECT 'Nation' AS kind, COUNT(*) AS n,
           CAST(SUM(length(n_name)) AS BIGINT) AS name_chars FROM nation
    UNION ALL
    SELECT 'Supplier', COUNT(*), CAST(SUM(length(s_name)) AS BIGINT) FROM supplier
    UNION ALL
    SELECT 'rel:LOCATED_IN', COUNT(*), CAST(0 AS BIGINT) FROM supplier
    ORDER BY kind
    """,
)
def src_graphml_roundtrip(spark, sf_dir):
    """SOURCES driver row for the GraphML interchange pair: the
    supplier→nation property graph exports through export_graphml
    (distributed XML fragments, Catalyst-side escaping) and comes back
    through read_graphml (distributed regexp parse + entity unescape —
    r5's import twin); label counts AND property payload sizes (name
    chars, read back out of the roundtripped properties map) must equal
    the original tables. Equality proves the export/import pair lossless
    including the escape/unescape chain."""
    import shutil
    import tempfile

    from jasminegraph_spark.graph import PropertyGraph
    from jasminegraph_spark.sources import export_graphml, read_graphml

    sup = _read(spark, sf_dir, "supplier")
    nat = _read(spark, sf_dir, "nation")
    nodes = sup.select(
        F.concat(F.lit("s"), F.col("s_suppkey")).alias("id"),
        F.lit("Supplier").alias("label"),
        F.create_map(F.lit("name"), F.col("s_name")).alias("properties"),
    ).unionAll(
        nat.select(
            F.concat(F.lit("n"), F.col("n_nationkey")),
            F.lit("Nation"),
            F.create_map(F.lit("name"), F.col("n_name")),
        )
    )
    edges = sup.select(
        F.concat(F.lit("s"), F.col("s_suppkey"), F.lit("->n"), F.col("s_nationkey")).alias(
            "id"
        ),
        F.concat(F.lit("s"), F.col("s_suppkey")).alias("src"),
        F.concat(F.lit("n"), F.col("s_nationkey")).alias("dst"),
        F.lit("LOCATED_IN").alias("type"),
        F.create_map().cast("map<string,string>").alias("properties"),
    )
    out_dir = tempfile.mkdtemp(prefix="jgs_graphml_")
    try:
        export_graphml(
            PropertyGraph(nodes=nodes, edges=edges, is_directed=True, name="supnat"),
            out_dir,
        )
        back = read_graphml(spark, out_dir)
        node_agg = back.nodes.groupBy(F.col("label").alias("kind")).agg(
            F.count("*").alias("n"),
            F.sum(F.length(F.col("properties")["name"])).cast("long").alias("name_chars"),
        )
        edge_agg = back.edges.groupBy(
            F.concat(F.lit("rel:"), F.col("type")).alias("kind")
        ).agg(F.count("*").alias("n"), F.lit(0).cast("long").alias("name_chars"))
        agg = node_agg.unionAll(edge_agg).orderBy("kind")
        rows, schema = agg.collect(), agg.schema
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@_q(
    "src_zorder_roundtrip",
    """
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    WHERE user_id BETWEEN 100 AND 400 AND value BETWEEN 10 AND 90
    GROUP BY event_type ORDER BY event_type
    """,
)
def src_zorder_roundtrip(spark, sf_dir):
    """LAYOUT driver row (write-side clustering, previously pytest-only):
    events are Z-order clustered on (user_id, value) — one approxQuantile
    pass per column, log-depth bucket map, bit-interleave,
    repartitionByRange + per-file sort (sources/layout.py zorder_by) —
    written to parquet and read back; a conjunctive cross-column filter
    aggregate must match the unclustered original exactly. Equality
    proves the clustering rewrite lossless; the tight per-file min/max
    envelopes it exists for are plan/stat-asserted in
    tests/test_sources.py."""
    import shutil
    import tempfile

    from jasminegraph_spark.sources import zorder_by, zorder_prune_stats

    ev = _read(spark, sf_dir, "events")
    out_dir = tempfile.mkdtemp(prefix="jgs_zorder_")
    try:
        zorder_by(ev, ["user_id", "value"], n_files=8).write.mode("overwrite").parquet(
            out_dir
        )
        back = spark.read.parquet(out_dir)
        agg = (
            back.filter(
                F.col("user_id").between(100, 400) & F.col("value").between(10, 90)
            )
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("event_id").cast("long").alias("sum_event_id"),
                F.countDistinct("user_id").alias("n_users"),
            )
            .orderBy("event_type")
        )
        # materialize before the scratch dir is removed, and record the
        # measured footer-stat skip ratio the clustering exists for
        rows, schema = agg.collect(), agg.schema
        stats = zorder_prune_stats(spark, out_dir, "user_id", 100, 400)
        print(f"# zorder prune stats (user_id in [100,400]): {stats}")
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


_EXPAND_AGG_ORACLE = (
    TPCH_GRAPH_CTE
    + """
    SELECT n.label AS src_label, e.type AS rel_type, COUNT(*) AS n_hops
    FROM g_edges e JOIN g_nodes n ON n.id = e.src
    GROUP BY n.label, e.type ORDER BY src_label, rel_type
    """
)


def _expand_agg(nodes, edges):
    """Shared traversal-hop aggregate for the bucketed/unbucketed pair:
    expand every edge to its source node and count hops per (label, type).
    The MERGE hint pins sort-merge join at EXECUTION time (a session-conf
    toggle restored after plan construction does not survive to physical
    planning) so both variants exercise the at-scale exchange path — with
    bucketed storage the exchange disappears entirely (asserted in
    tests/test_plans.py)."""
    n = nodes.select(F.col("id"), F.col("label")).hint("merge")
    e = edges.select(F.col("src"), F.col("type"))
    return (
        e.join(n, e.src == n.id)
        .groupBy(F.col("label").alias("src_label"), F.col("type").alias("rel_type"))
        .agg(F.count("*").alias("n_hops"))
        .orderBy("src_label", "rel_type")
    )


_EXPAND_STORE_MEMO: dict = {}


def _materialized_expand_graph(spark, sf_dir, bucketed: bool):
    """Materialize the tpch property graph ONCE per (session, sf_dir,
    layout) — plain parquet vs bucketed+sorted tables — so the pair's
    bench delta isolates the STORAGE LAYOUT: identical materialized
    bytes, identical sort-merge join, only the bucket co-location
    differs. (Reading the projection lazily on one side would conflate
    projection cost with layout.) Tables live in an explicit tmp-located
    database/dir: the session warehouse is the invoking process's cwd,
    which is not guaranteed writable; scratch is removed at interpreter
    exit, after every lazy reader is done with the files."""
    import atexit
    import shutil
    import tempfile
    import uuid

    from jasminegraph_spark.graph import GraphCatalog, PropertyGraph

    key = (id(spark), sf_dir, bucketed)
    if key in _EXPAND_STORE_MEMO:
        return _EXPAND_STORE_MEMO[key]
    scratch = tempfile.mkdtemp(prefix="jgs_expwh_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    g = tpch_graph(spark, sf_dir, name="tpchbkt")
    if bucketed:
        db = f"jgs_bkt_{uuid.uuid4().hex[:8]}"
        spark.sql(f"CREATE DATABASE {db} LOCATION '{scratch}'")
        prev_db = spark.catalog.currentDatabase()
        spark.catalog.setCurrentDatabase(db)
        try:
            cat = GraphCatalog(spark)
            cat.save_bucketed(g, buckets=8)
            _EXPAND_STORE_MEMO[key] = cat.load_bucketed("tpchbkt")
        finally:
            spark.catalog.setCurrentDatabase(prev_db)
    else:
        g.nodes.write.mode("overwrite").parquet(f"{scratch}/nodes")
        g.edges.write.mode("overwrite").parquet(f"{scratch}/edges")
        _EXPAND_STORE_MEMO[key] = PropertyGraph(
            nodes=spark.read.parquet(f"{scratch}/nodes"),
            edges=spark.read.parquet(f"{scratch}/edges"),
            name="tpchplain",
        )
    return _EXPAND_STORE_MEMO[key]


@_q("src_unbucketed_expand", _EXPAND_AGG_ORACLE)
def src_unbucketed_expand(spark, sf_dir):
    """Baseline half of the bucketed-storage pair (SCALE.md's headline
    claim, previously plan-asserted only): the expansion join over plain
    materialized parquet pays a full hash exchange + sort of BOTH sides
    before the sort-merge join. Same materialized bytes, same aggregate,
    same oracle as src_bucketed_expand — the bench delta between the two
    is exactly the exchange+sort that bucketing removes."""
    g = _materialized_expand_graph(spark, sf_dir, bucketed=False)
    return _expand_agg(g.nodes, g.edges)


@_q("src_bucketed_expand", _EXPAND_AGG_ORACLE)
def src_bucketed_expand(spark, sf_dir):
    """Bucketed half of the pair: nodes bucketed+sorted by id, edges by
    src (GraphCatalog.save_bucketed — the layout the reference
    approximates with its k-way partitioner + per-partition adjacency
    files, graph.py:163). The same MERGE-hinted expansion join then reads
    both sides bucket-locally: NO exchange in the plan
    (tests/test_plans.py test_bucketed_graph_expand_avoids_shuffle).
    The build is memoized per (session, sf_dir) so the bench's warm pass
    times the join, not the one-off write — the amortization a real
    deployment gets from writing bucketed once and traversing many
    times."""
    g = _materialized_expand_graph(spark, sf_dir, bucketed=True)
    return _expand_agg(g.nodes, g.edges)


@_q(
    "src_hash_partition",
    """
    WITH nodes AS (
        SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS node FROM orders
        UNION
        SELECT DISTINCT CAST(o_custkey AS VARCHAR) FROM orders
    )
    SELECT node,
           CAST(CAST(CONCAT('0x', substr(md5(node), 1, 8)) AS BIGINT) % 4 AS INT)
               AS pid
    FROM nodes ORDER BY node
    """,
)
def src_hash_partition(spark, sf_dir):
    """The streaming HASH partitioner under the driver's hash check (r7
    — the partitioner family's first oracle-shaped driver row; r8 adds
    the greedy LDG/Fennel variants via recursive-CTE arrival replay,
    see src_ldg_partition/src_fennel_partition). Every vertex
    of an orders-derived bipartite edge list (orderkey → custkey) is
    assigned pid = md5-prefix mod k (streaming/partitioners.
    hash_partition, reference Partitioner.cpp:110-121 stoi(id) %
    n_partitions) and the FULL (node, pid) mapping is value-hashed
    against DuckDB replaying the identical md5 arithmetic — the
    xxhash64 default stays the JVM-native scale path per the node2vec
    hash_fn convention."""
    from jasminegraph_spark.streaming import hash_partition

    o = _read(spark, sf_dir, "orders")
    edges = o.select(
        F.col("o_orderkey").cast("string").alias("src"),
        F.col("o_custkey").cast("string").alias("dst"),
    )
    return hash_partition(edges, 4, hash_fn="md5").orderBy("node")


_GREEDY_PREFIX_EDGES = 1200  # bounded arrival prefix keeps the oracle cheap


def _greedy_replay_oracle(score_expr: str, k: int = 4) -> str:
    """DuckDB recursive-CTE replay of the sequential greedy partitioners
    (r8, VERDICT r7 ask #3 — LDG/Fennel's arrival-order state IS
    SQL-expressible for a fixed md5-ordered arrival sequence).

    The key structural fact that makes the replay linear: in the greedy
    loop (streaming/partitioners._greedy_fn; reference
    Partitioner.cpp:49-108 LDG, :174-226 Fennel) every vertex is
    assigned at its FIRST appearance, at which point its accumulated
    adjacency holds exactly ONE neighbor — the other endpoint of the
    current edge (any earlier appearance would already have assigned
    it). So the replay state is just (pid-per-assigned-vertex,
    partition sizes), the event order (which vertex is assigned when,
    and who its partner is) is precomputable with window functions, and
    the partner's list index equals the partner's own event ordinal —
    no list scans inside the recursion. One recursion step per vertex:
    the step appends the argmax pid (ORDER BY score DESC, size ASC,
    pid ASC LIMIT 1 = Python's max over (score, -size, -p)) and bumps a
    static size column. MATERIALIZED on the prefix CTEs is what keeps
    each step O(1) — without it DuckDB re-evaluates the co-order
    self-join every iteration."""
    assert k == 4, "size columns are unrolled for k=4"
    return f"""
    WITH RECURSIVE co_edges AS MATERIALIZED (
        SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    prefix AS MATERIALIZED (
        SELECT CAST(src AS VARCHAR) AS src, CAST(dst AS VARCHAR) AS dst,
               md5(CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR)) AS h
        FROM co_edges ORDER BY h LIMIT {_GREEDY_PREFIX_EDGES}
    ),
    ordered AS MATERIALIZED (
        SELECT src, dst, ROW_NUMBER() OVER (ORDER BY h) - 1 AS i FROM prefix
    ),
    nev AS MATERIALIZED (SELECT COUNT(*) AS n_edges FROM ordered),
    appear AS (
        SELECT src AS v, dst AS u, i*2 AS pos FROM ordered
        UNION ALL SELECT dst, src, i*2+1 FROM ordered
    ),
    firsts AS (
        SELECT v, u, pos FROM (
            SELECT v, u, pos,
                   ROW_NUMBER() OVER (PARTITION BY v ORDER BY pos) AS rn
            FROM appear)
        WHERE rn = 1
    ),
    events AS MATERIALIZED (
        SELECT v, u, ROW_NUMBER() OVER (ORDER BY pos) AS ord FROM firsts
    ),
    ev2 AS MATERIALIZED (
        SELECT e.v, e.ord, eu.ord AS u_ord
        FROM events e JOIN events eu ON eu.v = e.u
    ),
    replay AS (
        SELECT 0 AS step, CAST([] AS INT[]) AS pids,
               0 AS s0, 0 AS s1, 0 AS s2, 0 AS s3
        UNION ALL
        SELECT r.step + 1, list_append(r.pids, b.p),
               r.s0 + CASE WHEN b.p = 0 THEN 1 ELSE 0 END,
               r.s1 + CASE WHEN b.p = 1 THEN 1 ELSE 0 END,
               r.s2 + CASE WHEN b.p = 2 THEN 1 ELSE 0 END,
               r.s3 + CASE WHEN b.p = 3 THEN 1 ELSE 0 END
        FROM replay r
        JOIN ev2 e ON e.ord = r.step + 1
        CROSS JOIN nev
        CROSS JOIN LATERAL (
            SELECT CAST(p AS INT) AS p
            FROM (
                SELECT t.p,
                       CASE WHEN e.u_ord <= r.step
                                 AND r.pids[CAST(e.u_ord AS INT)] = t.p
                            THEN 1.0 ELSE 0.0 END AS nbr,
                       CAST(CASE t.p WHEN 0 THEN r.s0 WHEN 1 THEN r.s1
                                     WHEN 2 THEN r.s2 ELSE r.s3 END
                            AS DOUBLE) AS sz,
                       CAST(2 * nev.n_edges AS DOUBLE) / {k} + 1 AS cap,
                       CAST(2 * nev.n_edges AS DOUBLE) AS n_est
                FROM range(0, {k}) t(p)
            )
            ORDER BY ({score_expr}) DESC, sz ASC, p ASC
            LIMIT 1
        ) b
    )
    SELECT e.v AS node, f.pids[CAST(e.ord AS INT)] AS pid
    FROM (SELECT pids FROM replay
          WHERE step = (SELECT MAX(ord) FROM events)) f, ev2 e
    ORDER BY node
    """


def _arrival_prefix_edges(spark, sf_dir, limit=_GREEDY_PREFIX_EDGES):
    """The md5-ordered co-order edge prefix both greedy driver rows
    stream: the md5 of 'src|dst' is the arrival key (unique per distinct
    edge), the prefix bound keeps the sequential replay cheap on both
    sides. TakeOrderedAndProject on the Spark side — no full sort."""
    e = co_order_edges(spark, sf_dir)
    return (
        e.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst"),
        )
        .withColumn("h", F.md5(F.concat_ws("|", "src", "dst")))
        .orderBy("h")
        .limit(limit)
        # pin the tiny prefix (r13): _greedy's sequential-size guard runs
        # a probe count over this frame before the real pass, and without
        # the pin each action pays the full TakeOrdered (md5 over every
        # co-order edge) again. Lazy pin (_pin) = the probe is the
        # materializing action, the greedy pass reads the pinned rows.
        .transform(_pin)
    )


@_q("src_ldg_partition", _greedy_replay_oracle("nbr * (1.0 - sz / cap)"))
def src_ldg_partition(spark, sf_dir):
    """LDG streaming partitioner driver row (r8 — previously
    pytest-only on the claim that greedy arrival-order state isn't
    SQL-expressible; it is, for a FIXED arrival order): the md5-ordered
    co-order edge prefix streams through streaming/partitioners.
    ldg_partition (reference Partitioner.cpp:49-108, score =
    |N(v) ∩ P_i| · (1 − |P_i|/C)) with arrival_col pinning the order
    inside the applyInPandas chunk, and the FULL (node, pid) mapping is
    value-hashed against DuckDB's recursive-CTE replay of the same
    greedy argmax (one recursion step per vertex; see
    _greedy_replay_oracle for why the state stays linear)."""
    from jasminegraph_spark.streaming import ldg_partition

    prefix = _arrival_prefix_edges(spark, sf_dir)
    out = ldg_partition(prefix, 4, arrival_col="h")
    # pin before the sort (r13): range-sampling would re-run the greedy pass
    return out.transform(_pin).orderBy("node")


@_q(
    "src_fennel_partition",
    _greedy_replay_oracle(
        "nbr - POW(4, 0.5) * n_est / GREATEST(POW(n_est, 1.5), 1.0)"
        " * 1.5 / 2.0 * POW(sz, 0.5)"
    ),
)
def src_fennel_partition(spark, sf_dir):
    """Fennel streaming partitioner driver row (r8, same replay
    contract as src_ldg_partition): score = |N(v) ∩ P_i| −
    α·γ/2·|P_i|^(γ−1) with γ=1.5, α = k^(γ−1)·n/max(n^γ,1) (reference
    Partitioner.cpp:174-226). The float expressions are written in the
    same operation order on both sides, so the argmax tie-breaks
    (score, then smallest size, then smallest pid) decide identically;
    the driver's exact value-hash over the integer (node, pid) pairs is
    the proof."""
    from jasminegraph_spark.streaming import fennel_partition

    prefix = _arrival_prefix_edges(spark, sf_dir)
    out = fennel_partition(prefix, 4, arrival_col="h")
    # pin before the sort (r13): range-sampling would re-run the greedy pass
    return out.transform(_pin).orderBy("node")


@_q(
    "pl_kmv_distinct",
    f"""
    WITH h AS (
        SELECT DISTINCT
            CAST({_hex_to_num_sql("md5(CAST(user_id AS VARCHAR))")} AS DOUBLE)
            / 281474976710656.0 AS h
        FROM events
    ),
    mins AS (SELECT h FROM h WHERE h > 0 ORDER BY h LIMIT 128)
    SELECT COUNT(*) AS n_sampled,
           printf('%.6f', CASE WHEN COUNT(*) < 128 THEN CAST(COUNT(*) AS DOUBLE)
                               ELSE (COUNT(*) - 1) / MAX(h) END) AS est_distinct
    FROM mins
    """,
)
def pl_kmv_distinct(spark, sf_dir):
    """KMV distinct-count sketch over the event-stream user ids
    (beyond-reference approximate aggregate): k smallest md5-derived
    uniform hashes → (k-1)/max estimator. Deterministic (a pure function
    of the value SET), so unlike HLL the sketch itself oracle-checks;
    the k-smallest selection is a TakeOrdered, and per-partition sketches
    merge by union-of-mins at cluster scale."""
    ev = _read(spark, sf_dir, "events")
    est = pl.kmv_distinct(ev, "user_id", k=128)
    return est.select(
        "n_sampled", F.format_string("%.6f", F.col("est_distinct")).alias("est_distinct")
    )


@_q(
    "pl_kmv_merge_rollup",
    f"""
    WITH cust AS (
        SELECT n_regionkey AS region, c_custkey
        FROM customer JOIN nation ON n_nationkey = c_nationkey
    ),
    h AS (
        SELECT DISTINCT region,
            CAST({_hex_to_num_sql("md5(CAST(c_custkey AS VARCHAR))")} AS DOUBLE)
            / 281474976710656.0 AS h
        FROM cust
    ),
    kept AS (
        SELECT region, h,
               ROW_NUMBER() OVER (PARTITION BY region ORDER BY h) AS rn
        FROM h WHERE h > 0
    )
    SELECT CAST(region AS BIGINT) AS region,
           COUNT(*) AS n_kept,
           -- unsaturated sketch (n_kept < k) holds every distinct hash:
           -- the exact count, not the (k-1)/h_k estimator (r6 ADVICE fix)
           printf('%.6f', CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                               ELSE (COUNT(*) - 1) / MAX(h) END) AS est_distinct,
           string_agg(printf('%.6f', h), '|' ORDER BY h) AS sketch
    FROM kept WHERE rn <= 64
    GROUP BY region ORDER BY region
    """,
)
def pl_kmv_merge_rollup(spark, sf_dir):
    """MERGEABLE KMV rollup (pipeline/sampling.kmv_sketch_by +
    kmv_merge_sketches): per-NATION customer-cardinality sketches are
    built first, then MERGED to region level — union-of-k-mins is
    lossless for k-min sketches, so the oracle computes the region
    sketch directly from raw customers and the merged sketch must
    hash-match value for value (the map-side-combine contract a
    1000-executor rollup relies on: k doubles per split cross the
    shuffle, never raw keys)."""
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _read(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    df = cust.join(nat, cust.c_nationkey == nat.n_nationkey).select(
        F.col("c_custkey").alias("val"),
        F.col("c_nationkey").alias("nation"),
        F.col("n_regionkey").alias("region"),
    )
    per_nation = pl.kmv_sketch_by(df, "val", ["nation", "region"], k=64)
    merged = pl.kmv_merge_sketches(per_nation, ["region"], k=64)
    return merged.select(
        F.col("region").cast("long"),
        "n_kept",
        F.format_string("%.6f", F.col("est_distinct")).alias("est_distinct"),
        F.concat_ws(
            "|", F.transform("sketch", lambda x: F.format_string("%.6f", x))
        ).alias("sketch"),
    ).orderBy("region")


@_q(
    "pl_kmeans_refine",
    """
    WITH cents0 AS (
        SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings ORDER BY vec_id ASC LIMIT 8
    ), assign AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                              c.cv) DESC,
                       c.cell ASC) AS rn
            FROM embeddings e, cents0 c
        ) WHERE rn = 1
    ), dims AS (
        SELECT a.cell, g.pos, CAST(e.embedding[g.pos] AS DOUBLE) AS x
        FROM assign a
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN generate_series(1, 64) g(pos) ON g.pos <= len(e.embedding)
    ), means AS (
        SELECT cell, pos, AVG(x) AS m FROM dims GROUP BY cell, pos
    )
    SELECT cell,
           string_agg(printf('%.6f', ROUND(m, 6)), '|' ORDER BY pos) AS centroid
    FROM means GROUP BY cell ORDER BY cell
    """,
)
def pl_kmeans_refine(spark, sf_dir):
    """One Lloyd round of the IVF coarse quantizer under the driver's
    hash check (pipeline/similarity.kmeans_centroids, lloyd_iters=1 —
    the k-means refinement FAISS trains its IVF codebook with, which
    the pl_ivf_ann family uses at lloyd_iters=0): deterministic
    lowest-id seeds → one broadcast argmax-cosine assignment pass → one
    posexplode/groupBy per-dimension mean. The oracle replays the exact
    round (argmax assignment + AVG per (cell, pos)); centroids emit as
    '|'-joined %.6f strings per the driver float-parity rule."""
    from jasminegraph_spark.pipeline.similarity import kmeans_centroids

    cents = kmeans_centroids(
        _read(spark, sf_dir, "embeddings"), n_cells=8, lloyd_iters=1
    )
    return cents.select(
        "cell",
        F.array_join(
            F.transform(
                "cv", lambda x: F.format_string("%.6f", F.round(x, 6))
            ),
            "|",
        ).alias("centroid"),
    ).orderBy("cell")


def _inc_wcc_oracle(iterations: int = 20) -> str:
    """From-scratch WCC of each md5-prefix edge set, unrolled hash-min
    (same recurrence as _cc_oracle), aggregated to the per-batch summary
    the incremental tracker must reproduce exactly."""
    sql = CO_ORDER_CTE + """
    , tagged AS MATERIALIZED (
        SELECT src, dst,
               substring(md5(CAST(src AS VARCHAR) || '|' ||
                             CAST(dst AS VARCHAR)), 1, 1) AS h
        FROM co_edges
    )"""
    summaries = []
    for batch_no, hi in ((1, "'4'"), (2, "'8'"), (3, "'c'"), (4, None)):
        cond = f"WHERE h < {hi}" if hi else ""
        sql += f"""
    , p{batch_no} AS MATERIALIZED (SELECT src, dst FROM tagged {cond}),
    a{batch_no} AS MATERIALIZED (
        SELECT src AS u, dst AS v FROM p{batch_no}
        UNION ALL SELECT dst, src FROM p{batch_no}
        UNION ALL SELECT DISTINCT src, src FROM p{batch_no}
        UNION ALL SELECT DISTINCT dst, dst FROM p{batch_no}
    ),
    b{batch_no}l0 AS (SELECT DISTINCT u AS node, u AS component FROM a{batch_no})"""
        for i in range(iterations):
            sql += f"""
    , b{batch_no}l{i + 1} AS (
        SELECT a.u AS node, MIN(l.component) AS component
        FROM a{batch_no} a JOIN b{batch_no}l{i} l ON l.node = a.v GROUP BY a.u
    )"""
        summaries.append(
            f"SELECT {batch_no} AS batch_no, COUNT(*) AS n_nodes, "
            f"CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components, "
            f"CAST(SUM(component) AS BIGINT) AS label_sum "
            f"FROM b{batch_no}l{iterations}"
        )
    sql += "\n    " + " UNION ALL ".join(summaries) + " ORDER BY batch_no"
    return sql


@_q("st_incremental_wcc", _inc_wcc_oracle(20))
def st_incremental_wcc(spark, sf_dir):
    """Incremental WCC driver row — the `strian` contract applied to
    components (streaming/ingest.StreamingComponentTracker): co-order
    edges arrive as 4 deterministic md5-ranged batches; each batch does
    FRONTIER work only (new edges seed changed labels, each round joins
    just the changed set against the accumulated adjacency), yet after
    every batch the label table must equal the from-scratch WCC of the
    prefix graph — hash-checked here as (n_nodes, n_components,
    label_sum) per batch against DuckDB's unrolled hash-min recount of
    each prefix. The hash-min fixpoint (min reachable id) is unique, so
    warm-start equivalence is exact, not approximate."""
    import shutil
    import tempfile

    from jasminegraph_spark.streaming.ingest import StreamingComponentTracker

    e = co_order_edges(spark, sf_dir).withColumn(
        "_h", F.substring(F.md5(F.concat_ws("|", "src", "dst")), 1, 1)
    )
    state = tempfile.mkdtemp(prefix="jgs_iwcc_")
    rows = []
    try:
        t = StreamingComponentTracker(spark, state)
        for batch_no, (lo, hi) in enumerate(
            [(None, "4"), ("4", "8"), ("8", "c"), ("c", None)], start=1
        ):
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col("_h") >= lo)
            if hi is not None:
                cond = cond & (F.col("_h") < hi)
            labels = t.process_batch(e.filter(cond).select("src", "dst"), batch_no)
            agg = labels.agg(
                F.count("*").alias("n_nodes"),
                F.countDistinct("component").cast("long").alias("n_components"),
                F.sum("component").cast("long").alias("label_sum"),
            ).collect()[0]
            rows.append(
                (batch_no, int(agg["n_nodes"]), int(agg["n_components"]), int(agg["label_sum"]))
            )
    finally:
        shutil.rmtree(state, ignore_errors=True)
    return spark.createDataFrame(
        rows, "batch_no int, n_nodes long, n_components long, label_sum long"
    )


def _coloring_oracle(colors: int = 6, rounds: int = 6) -> str:
    """Iterated-MIS greedy coloring unrolled color-by-color, round-by-
    round on the lineitem-derived residue graph (r7, replacing the
    25-node nation circulant per the r6 verdict ask #9): nodes are the
    l_orderkey mod-400 residues PRESENT in the data, edges the two
    affine maps u → 17u+103 and u → 29u+7 (mod 400). Both multipliers
    are coprime to 400, so each map is a bijection — degree ≤ 4, hence
    ≤ 5 colors and ≤ 4 Luby rounds per color at every SF (measured),
    while the Spark side scans the full lineitem table. Per color,
    nodes isolated among the uncolored join the deterministic Luby MIS
    of the surviving subgraph (same md5-priority recurrence as
    _mis_oracle); post-fixpoint rounds and colors are identity on empty
    sets. r8 (ADVICE r7): invoked with rounds=7, one spare round past
    the measured max of 6, so an untested SF whose residue subset needs
    a 7th MIS round cannot flip the row red — the spare round is
    identity when the fixpoint already converged."""
    sql = """
    WITH lbase AS MATERIALIZED (
        SELECT DISTINCT l_orderkey % 400 AS u FROM lineitem
    ),
    base AS (
        SELECT u AS src, (u * 17 + 103) % 400 AS dst FROM lbase
        UNION ALL
        SELECT u, (u * 29 + 7) % 400 FROM lbase
    ),
    adj AS MATERIALIZED (
        SELECT DISTINCT u, v FROM (
            SELECT src AS u, dst AS v FROM base
            UNION ALL SELECT dst, src FROM base)
    ),
    u0 AS (SELECT DISTINCT u AS node FROM adj)
    """
    for c in range(colors):
        sql += f"""
    , t{c} AS MATERIALIZED (
        SELECT DISTINCT a.u AS node FROM adj a
        JOIN u{c} x ON x.node = a.u JOIN u{c} y ON y.node = a.v
    ),
    iso{c} AS (SELECT node FROM u{c} EXCEPT SELECT node FROM t{c}),
    c{c}r0 AS (SELECT node FROM t{c})"""
        for i in range(rounds):
            sql += f"""
    , c{c}nm{i} AS MATERIALIZED (
        SELECT a.u, MIN(md5(CAST(a.v AS VARCHAR))) AS m
        FROM adj a
        JOIN c{c}r{i} x ON x.node = a.u
        JOIN c{c}r{i} y ON y.node = a.v
        GROUP BY a.u
    ),
    c{c}w{i} AS MATERIALIZED (
        SELECT r.node FROM c{c}r{i} r LEFT JOIN c{c}nm{i} n ON n.u = r.node
        WHERE md5(CAST(r.node AS VARCHAR)) < COALESCE(n.m, 'g')
    ),
    c{c}r{i + 1} AS MATERIALIZED (
        SELECT r.node FROM c{c}r{i} r
        WHERE r.node NOT IN (SELECT node FROM c{c}w{i})
          AND r.node NOT IN (
              SELECT a.u FROM adj a JOIN c{c}w{i} w ON w.node = a.v)
    )"""
        wunion = " UNION ALL ".join(
            f"SELECT node FROM c{c}w{i}" for i in range(rounds)
        )
        sql += f"""
    , col{c} AS MATERIALIZED (
        SELECT node FROM ({wunion}) UNION ALL SELECT node FROM iso{c}
    ),
    u{c + 1} AS MATERIALIZED (
        SELECT node FROM u{c} EXCEPT SELECT node FROM col{c}
    )"""
    parts = " UNION ALL ".join(
        f"SELECT CAST(node AS BIGINT) AS node, {c} AS color FROM col{c}"
        for c in range(colors)
    )
    sql += (
        f"\n    SELECT node, CAST(color AS INT) AS color FROM ({parts})"
        " ORDER BY node"
    )
    return sql


@_q("an_coloring", _coloring_oracle(6, 7))
def an_coloring(spark, sf_dir):
    """Greedy graph coloring by iterated deterministic MIS
    (components.greedy_coloring — Luby's conflict-partitioning
    application) on a lineitem-derived residue graph (r7 fixture,
    replacing the 25-node nation circulant): the Spark side scans the
    full lineitem table for the mod-400 node set, edges are two affine
    bijections u → 17u+103, 29u+7 (mod 400), so degree ≤ 4 bounds the
    coloring at 5 and keeps the colors × rounds SQL oracle cheap at
    every SF. Each color = that round's md5-priority MIS plus the nodes
    isolated among the uncolored; the oracle unrolls the identical
    recurrence color by color. Properness/completeness/Δ+1/determinism
    are property-tested on arbitrary graphs
    (tests/test_property_based.py)."""
    from jasminegraph_spark.analytics import greedy_coloring

    base = (
        _read(spark, sf_dir, "lineitem")
        .select((F.col("l_orderkey") % 400).cast("long").alias("u"))
        .distinct()
    )
    edges = base.select(
        F.col("u").alias("src"), ((F.col("u") * 17 + 103) % 400).alias("dst")
    ).unionAll(
        base.select(
            F.col("u").alias("src"), ((F.col("u") * 29 + 7) % 400).alias("dst")
        )
    )
    out = greedy_coloring(edges, max_colors=6)
    return out.select(
        F.col("node").cast("long"), F.col("color").cast("int")
    ).orderBy("node")


@_q(
    "cy_graph_integrity",
    """
    SELECT * FROM (
        SELECT 'dangling_dst' AS rule,
               (SELECT COUNT(*) FROM orders WHERE o_orderkey % 5 = 0) AS violations
        UNION ALL SELECT 'dangling_src', 0
        UNION ALL SELECT 'dup_edge_ids', 0
        UNION ALL
        SELECT 'dup_node_ids',
               (SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 = 3)
        UNION ALL
        -- null-label nodes duplicated by the dup rule count twice (rows,
        -- not distinct ids — that's what the operator reports)
        SELECT 'null_labels',
               (SELECT COUNT(*) FROM orders WHERE o_orderkey % 11 = 2)
               + (SELECT COUNT(*) FROM orders
                  WHERE o_orderkey % 11 = 2 AND o_orderkey % 7 = 3)
        UNION ALL
        -- the when-chain corrupts dangling BEFORE self-loop, so keys
        -- hitting both residues are dangling, not loops
        SELECT 'self_loops',
               (SELECT COUNT(*) FROM orders
                WHERE o_orderkey % 6 = 1 AND o_orderkey % 5 <> 0)
    ) ORDER BY rule
    """,
)
def cy_graph_integrity(spark, sf_dir):
    """Graph hygiene validation (graph.graph_integrity_report — the
    ingest-trust pass the reference's implicit-partition-file model
    skips) on an ORDERS-derived graph (r7 fixture, replacing the
    25-node nation ring per the r6 verdict ask #9 — the node table now
    scales with the SF): the graph is corrupted DETERMINISTICALLY —
    star edges whose dst is re-pointed off-graph on residue 0 (mod 5,
    dangling), node rows duplicated on residue 3 (mod 7), labels nulled
    on residue 2 (mod 11), self-loops injected on residue 1 (mod 6) —
    and every rule's violation count must match the residue arithmetic
    the oracle computes. Healthy edges point at the min orderkey (max
    for the min node itself, so the star never fabricates a self-loop).
    Anti-joins and partial-agg groupBys on single columns; properties
    never read."""
    from jasminegraph_spark.graph import PropertyGraph, graph_integrity_report

    ords = _read(spark, sf_dir, "orders").select("o_orderkey")
    mm = ords.agg(
        F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx")
    ).collect()[0]
    k = F.col("o_orderkey")
    nodes = ords.select(
        k.cast("string").alias("id"),
        F.when(k % 11 == 2, F.lit(None)).otherwise(F.lit("Order")).alias("label"),
        F.create_map().cast("map<string,string>").alias("properties"),
    )
    dups = nodes.join(
        ords.filter(k % 7 == 3).select(k.cast("string").alias("id")), "id", "left_semi"
    )
    edges = ords.select(
        F.concat_ws("-", k, F.lit("e")).alias("id"),
        k.cast("string").alias("src"),
        F.when(k % 5 == 0, F.concat(F.lit("missing:"), k.cast("string")))
        .when(k % 6 == 1, k.cast("string"))  # self-loop
        .otherwise(
            F.when(k == F.lit(mm["mn"]), F.lit(str(mm["mx"])))
            .otherwise(F.lit(str(mm["mn"])))
        )
        .alias("dst"),
        F.lit("NEXT").alias("type"),
        F.create_map().cast("map<string,string>").alias("properties"),
    )
    g = PropertyGraph(nodes=nodes.unionAll(dups), edges=edges)
    return graph_integrity_report(g).orderBy("rule")


@_q(
    "pl_bigram_logprob",
    r"""
    WITH arr AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        FROM documents
    ),
    bg AS (
        -- index-lambda extraction: unbounded like the Spark transform
        -- (the old generate_series(1, 8192) form silently capped docs
        -- longer than 8193 tokens, against the no-silent-caps rule)
        SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
            SELECT doc_id,
                   unnest(list_transform(a[1:len(a) - 1],
                          (x, i) -> struct_pack(w1 := x, w2 := a[i + 1]))) AS u
            FROM arr
        )
    ),
    cab AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2),
    ca AS (SELECT w1, COUNT(*) AS c_a FROM bg GROUP BY 1),
    v AS (
        SELECT COUNT(DISTINCT tok) AS v FROM (
            SELECT unnest(a) AS tok FROM arr
        ) WHERE tok <> ''
    )
    SELECT bg.doc_id, COUNT(*) AS n_bigrams,
           printf('%.6f', AVG(ln((cab.c_ab + 0.5) / (ca.c_a + 0.5 * v.v))))
               AS avg_logprob
    FROM bg
    JOIN cab ON cab.w1 = bg.w1 AND cab.w2 = bg.w2
    JOIN ca ON ca.w1 = bg.w1
    CROSS JOIN v
    GROUP BY bg.doc_id ORDER BY bg.doc_id
    """,
)
def pl_bigram_logprob(spark, sf_dir):
    """Bigram perplexity proxy (pipeline/text.bigram_logprob — the rung
    above unigram scoring on the KenLM-filter ladder): mean add-½
    smoothed bigram log-probability under the corpus's own bigram
    distribution. Bigrams extract in one array-transform pass (no
    self-join), counts are two partial-agg groupBys, the score is two
    hash joins + one doc aggregation; shuffled text scores below
    natural text even with identical unigrams (pytest-pinned). %.6f
    strings per the float-parity rule."""
    from jasminegraph_spark.pipeline import bigram_logprob

    out = bigram_logprob(_read(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        "n_bigrams",
        F.format_string("%.6f", F.col("avg_logprob")).alias("avg_logprob"),
    ).orderBy("doc_id")


@_q(
    "pl_normalize_text",
    """
    WITH injected AS (
        SELECT doc_id,
               text || (CASE WHEN doc_id % 7 = 0
                   THEN chr(9) || ' ' || chr(8216) || 'q' || chr(8217) || ' '
                        || chr(8220) || 'd' || chr(8221) || ' ' || chr(8211)
                        || ' e ' || chr(8212) || ' f ' || chr(8203) || 'z'
                   ELSE '' END) AS text
        FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(
               regexp_replace(
               regexp_replace(
               regexp_replace(
               regexp_replace(
               regexp_replace(text,
                   '[' || chr(8203) || chr(8204) || chr(8205) || chr(65279) || ']', '', 'g'),
                   '[' || chr(8216) || chr(8217) || ']', chr(39), 'g'),
                   '[' || chr(8220) || chr(8221) || ']', chr(34), 'g'),
                   '[' || chr(8211) || chr(8212) || ']', '-', 'g'),
                   '[' || chr(0) || '-' || chr(31) || chr(127) || ']', ' ', 'g'),
                   '[ ]+', ' ', 'g')) AS text_norm,
           CAST(len(text) AS INT) AS orig_len,
           CAST(len(trim(regexp_replace(
               regexp_replace(
               regexp_replace(
               regexp_replace(
               regexp_replace(
               regexp_replace(text,
                   '[' || chr(8203) || chr(8204) || chr(8205) || chr(65279) || ']', '', 'g'),
                   '[' || chr(8216) || chr(8217) || ']', chr(39), 'g'),
                   '[' || chr(8220) || chr(8221) || ']', chr(34), 'g'),
                   '[' || chr(8211) || chr(8212) || ']', '-', 'g'),
                   '[' || chr(0) || '-' || chr(31) || chr(127) || ']', ' ', 'g'),
                   '[ ]+', ' ', 'g'))) AS INT) AS norm_len,
           CAST(trim(regexp_replace(
               regexp_replace(
               regexp_replace(
               regexp_replace(
               regexp_replace(
               regexp_replace(text,
                   '[' || chr(8203) || chr(8204) || chr(8205) || chr(65279) || ']', '', 'g'),
                   '[' || chr(8216) || chr(8217) || ']', chr(39), 'g'),
                   '[' || chr(8220) || chr(8221) || ']', chr(34), 'g'),
                   '[' || chr(8211) || chr(8212) || ']', '-', 'g'),
                   '[' || chr(0) || '-' || chr(31) || chr(127) || ']', ' ', 'g'),
                   '[ ]+', ' ', 'g')) <> text AS INT) AS changed
    FROM injected ORDER BY doc_id
    """,
)
def pl_normalize_text(spark, sf_dir):
    """Deterministic text normalization (pipeline/text.normalize_text —
    the standard pre-filter stage: control-char fold, zero-width strip,
    curly-quote/dash ASCII folding, whitespace collapse) under the
    driver's hash check. The synthetic corpus is already clean, so
    unicode junk is appended on a fixed id residue with the identical
    codepoints built via chr() in the DuckDB twin; the oracle replays
    the exact regexp chain. Zero shuffles, one narrow projection."""
    from jasminegraph_spark.pipeline import normalize_text

    docs = _read(spark, sf_dir, "documents")
    junk = "\t \u2018q\u2019 \u201cd\u201d \u2013 e \u2014 f \u200bz"
    t2 = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(junk)).otherwise(F.lit("")),
    )
    return normalize_text(docs.select("doc_id", t2.alias("text"))).orderBy("doc_id")


@_q(
    "pl_temperature_mixture",
    f"""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    f AS (
        SELECT lang, n,
               pow(CAST(n AS DOUBLE) / (SELECT MIN(n) FROM c), -0.5) AS keep_frac
        FROM c
    ),
    kept AS (
        SELECT d.lang
        FROM documents d JOIN f ON d.lang = f.lang
        WHERE CAST({_hex_to_num_sql("md5(text)")} AS DOUBLE)
              / 281474976710656.0 < f.keep_frac
    )
    SELECT f.lang, CAST(f.n AS BIGINT) AS n_before,
           CAST(COALESCE(k.cnt, 0) AS BIGINT) AS n_after,
           ROUND(f.keep_frac, 6) AS keep_frac
    FROM f LEFT JOIN (SELECT lang, COUNT(*) AS cnt FROM kept GROUP BY lang) k
        ON k.lang = f.lang
    ORDER BY f.lang
    """,
)
def pl_temperature_mixture(spark, sf_dir):
    """Temperature-scaled mixture resampling (pipeline/sampling.
    temperature_mixture, α=0.5): flatten the language mix toward uniform
    by keeping f_g=(n_g/n_min)^(α-1) of each language — the standard
    multilingual p^α reweighting for training-data mixes. Selection is
    the content-hash uniform (RNG-free, engine-portable); the only wide
    op is the 5-row language count, broadcast back onto a map-side
    filter."""
    docs = _read(spark, sf_dir, "documents")
    kept = pl.temperature_mixture(docs, "lang", alpha=0.5)
    after = kept.groupBy("lang").agg(
        F.count("*").alias("n_after"), F.max("__keep_frac").alias("kf")
    )
    before = docs.groupBy("lang").agg(F.count("*").alias("n_before"))
    return (
        before.join(after, "lang", "left")
        .select(
            "lang",
            "n_before",
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
            F.round(
                F.coalesce(
                    "kf",
                    F.pow(
                        F.col("n_before")
                        / F.min("n_before").over(Window.partitionBy()),
                        F.lit(-0.5),
                    ),
                ),
                6,
            ).alias("keep_frac"),
        )
        .orderBy("lang")
    )


@_q(
    "pl_weighted_sample",
    f"""
    WITH keyed AS (
        SELECT doc_id,
               pow(CAST({_hex_to_num_sql("md5(text)")} AS DOUBLE)
                   / 281474976710656.0,
                   1.0 / n_chars) AS sample_key
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id FROM keyed
    ORDER BY sample_key DESC, doc_id LIMIT 100
    """,
)
def pl_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES, u^(1/w) keys from content hashes) — the data-mixing
    primitive: sample long documents proportionally to char count with
    zero RNG state. Top-k runs as TakeOrdered (no global sort). Only the
    selected doc_ids ship: the key itself is libm-pow-computed and may
    differ in the last ulp across engines, but the SELECTED SET only
    changes if the rank-100/101 keys collide within that ulp."""
    docs = _read(spark, sf_dir, "documents")
    out = pl.weighted_sample(docs, weight_col="n_chars", k=100, key_col="text")
    return out.orderBy(F.desc("sample_key"), F.asc("doc_id")).select("doc_id")


@_q(
    "rel_cohort_retention",
    """
    WITH firstd AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY user_id
    )
    SELECT CAST(floor(datediff('day', DATE '2024-01-01', f.first_day) / 7)
                AS BIGINT) AS cohort_week,
           CAST(floor(datediff('day', f.first_day, CAST(e.ts AS DATE)) / 7)
                AS BIGINT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN firstd f USING (user_id)
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def rel_cohort_retention(spark, sf_dir):
    """Cohort retention matrix (beyond-reference product-analytics shape):
    first-seen week × activity-week-offset distinct-user counts. The
    first-seen aggregate shuffles on user_id once and joins back on the
    same key (no extra exchange under AQE); week math is integer
    epoch-day arithmetic, engine-portable by construction."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    firstd = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    epoch = F.lit("2024-01-01").cast("date")
    return (
        ev.join(firstd, "user_id")
        .groupBy(
            F.floor(F.datediff(F.col("first_day"), epoch) / 7)
            .cast("long")
            .alias("cohort_week"),
            F.floor(F.datediff(F.col("day"), F.col("first_day")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def pl_hash_split(spark, sf_dir):
    """Deterministic train/val/test split by md5(text) prefix range
    (content-hash split — stable under reruns/engines/partitioning).
    80/10/10; per-split document count and char volume."""
    docs = _read(spark, sf_dir, "documents")
    return (
        pl.hash_split(docs, key_col="text", train=0.8, val=0.1)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("split")
    )


_QUERIES["pl_hash_split"] = pl_hash_split
_ORACLES["pl_hash_split"] = """
    SELECT CASE WHEN substr(md5(text), 1, 4) < 'cccc' THEN 'train'
                WHEN substr(md5(text), 1, 4) < 'e666' THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1 ORDER BY split
"""


def pl_stratified_sample(spark, sf_dir):
    """Per-language deterministic downsampling (rebalance a skewed
    corpus): keep 25% of 'en', 75% of every other language — selection is
    a map-side md5-prefix expression, no RNG state, no shuffle."""
    docs = _read(spark, sf_dir, "documents")
    sampled = pl.stratified_sample(
        docs, "lang", {"en": 0.25}, key_col="text", default_fraction=0.75
    )
    return sampled.groupBy("lang").agg(F.count("*").alias("n_docs"))


_QUERIES["pl_stratified_sample"] = pl_stratified_sample
_ORACLES["pl_stratified_sample"] = """
    SELECT lang, COUNT(*) AS n_docs FROM documents
    WHERE substr(md5(text), 1, 4) <
          CASE WHEN lang = 'en' THEN '4000' ELSE 'c000' END
    GROUP BY lang
"""


@_q(
    "cypher_type_function",
    TPCH_GRAPH_CTE
    + """
    SELECT type AS t, COUNT(*) AS n FROM g_edges GROUP BY type ORDER BY t
    """,
)
def cypher_type_function(spark, sf_dir):
    """type(r) scalar function (relationship type string) grouped over the
    full edge set."""
    return _cy(
        spark, sf_dir, "MATCH (a)-[r]->(b) RETURN type(r) AS t, count(*) AS n ORDER BY t"
    )


_EMBED_DIM = 32


def _embed_cte(dim: int = _EMBED_DIM) -> str:
    """documents → hashed-token L2-normalized embedding, as a DuckDB CTE
    chain ending in emb(doc_id, embedding DOUBLE[]). Mirrors
    pipeline.text.embed_text: bucket = first-4-hex(md5(token)) % dim,
    term counts as FILTER sums, normalize."""
    hd = lambda i: f"(strpos('0123456789abcdef', substr(md5(token), {i}, 1)) - 1)"  # noqa: E731
    bucket = f"(({hd(1)} * 4096 + {hd(2)} * 256 + {hd(3)} * 16 + {hd(4)}) % {dim})"
    sums = ",\n               ".join(
        f"CAST(COUNT(*) FILTER (WHERE bucket = {i}) AS DOUBLE) AS c{i}" for i in range(dim)
    )
    sq = " + ".join(f"c{i} * c{i}" for i in range(dim))
    lst = ", ".join(f"c{i} / nrm" for i in range(dim))
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        FROM documents
    ),
    bt AS (SELECT doc_id, {bucket} AS bucket FROM tok),
    wide AS (
        SELECT doc_id,
               {sums}
        FROM bt GROUP BY doc_id
    ),
    normed AS (SELECT *, sqrt({sq}) AS nrm FROM wide),
    emb AS (SELECT doc_id, [{lst}] AS embedding FROM normed)
    """


def _embed_text_oracle(dim: int = _EMBED_DIM) -> str:
    cols = ", ".join(f"printf('%.6f', embedding[{i + 1}])" for i in range(dim))
    return _embed_cte(dim) + f"""
    SELECT doc_id, array_to_string([{cols}], ',') AS embedding_csv FROM emb
    """


@_q("pl_embed_text", _embed_text_oracle())
def pl_embed_text(spark, sf_dir):
    """Text → embedding operator (TextEmbedder.h:29-42 parity): hashed-token
    L2-normalized vectors from raw text. Output rendered as fixed-format
    CSV (engine-portable float formatting) for the value-hash compare."""
    emb = pl.embed_text(_read(spark, sf_dir, "documents"), dim=_EMBED_DIM)
    return emb.select(
        "doc_id",
        F.concat_ws(
            ",", F.transform("embedding", lambda x: F.format_string("%.6f", x))
        ).alias("embedding_csv"),
    )


def _embed_ivf_oracle(dim: int = _EMBED_DIM, n_cells: int = 8) -> str:
    return _embed_cte(dim) + f"""
    , cents AS (
        SELECT doc_id AS cell, embedding AS cv FROM emb
        ORDER BY doc_id ASC LIMIT {n_cells}
    ), assign AS (
        SELECT doc_id, cell FROM (
            SELECT e.doc_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY e.doc_id ORDER BY
                       list_cosine_similarity(e.embedding, c.cv) DESC,
                       c.cell ASC) AS rn
            FROM emb e, cents c
        ) WHERE rn = 1
    ), q AS (
        SELECT a.doc_id AS query_id, a.cell, e.embedding AS qv
        FROM assign a JOIN emb e USING (doc_id) WHERE a.doc_id < 5
    ), scored AS (
        SELECT q.query_id, e.doc_id AS neighbor_id,
               ROUND(list_cosine_similarity(q.qv, e.embedding), 6) AS cosine
        FROM emb e
        JOIN assign a ON a.doc_id = e.doc_id
        JOIN q ON q.cell = a.cell AND e.doc_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
        FROM scored
    ) WHERE rank <= 5
    """


@_q("pl_embed_ivf_ann", _embed_ivf_oracle())
def pl_embed_ivf_ann(spark, sf_dir):
    """End-to-end text → embedding → bucketed ANN: embed_text feeds
    ivf_ann directly (the reference's ingest-embed-then-FAISS pipeline,
    JasmineGraphIncrementalLocalStore.cpp:42-67 → FaissIndex.h:20-53),
    no precomputed embedding column required."""
    emb = pl.embed_text(_read(spark, sf_dir, "documents"), dim=_EMBED_DIM)
    # pin the embedding pass (r13): ivf_ann references it four times
    # (centroid seed, cell assignment, corpus side, query side) and the
    # explode+wide-agg embedding job re-executed per reference
    emb = emb.transform(_pin)
    queries = emb.filter(F.col("doc_id") < 5)
    return pl.ivf_ann(emb, queries, k=5, n_cells=8, id_col="doc_id", vec_col="embedding")


@_q(
    "an_link_prediction_embedding",
    CO_ORDER_CTE
    + """
    , adj AS MATERIALIZED (
        SELECT src AS v, dst AS w FROM co_edges
        UNION ALL SELECT dst, src FROM co_edges
    ),
    deg AS MATERIALIZED (SELECT v, COUNT(*) AS deg FROM adj GROUP BY v),
    feat AS MATERIALIZED (
        SELECT a.v,
               CAST(MIN(d.deg) AS DOUBLE) AS f0,
               CAST(SUM(wd.deg) AS DOUBLE) AS f1,
               CAST(MAX(wd.deg) AS DOUBLE) AS f2,
               CAST(MIN(wd.deg) AS DOUBLE) AS f3
        FROM adj a JOIN deg d ON d.v = a.v JOIN deg wd ON wd.v = a.w
        GROUP BY a.v
    ),
    centers AS (
        SELECT a.v, a.w FROM adj a JOIN deg d ON d.v = a.v
        WHERE d.deg <= 16 * (SELECT CEIL(AVG(deg)) FROM deg)
    ),
    pairs AS (
        SELECT l.w AS a, r.w AS b, COUNT(*) AS common_neighbors
        FROM centers l JOIN centers r ON l.v = r.v AND l.w < r.w
        GROUP BY l.w, r.w
        HAVING COUNT(*) >= 2
    ),
    cand AS (
        SELECT p.* FROM pairs p
        WHERE NOT EXISTS (
            SELECT 1 FROM co_edges e WHERE e.src = p.a AND e.dst = p.b
        )
    )
    SELECT c.a, c.b, c.common_neighbors,
           ROUND((fa.f0 * fb.f0 + fa.f1 * fb.f1 + fa.f2 * fb.f2 + fa.f3 * fb.f3)
                 / (sqrt(fa.f0^2 + fa.f1^2 + fa.f2^2 + fa.f3^2)
                    * sqrt(fb.f0^2 + fb.f1^2 + fb.f2^2 + fb.f3^2)), 6) AS cosine
    FROM cand c JOIN feat fa ON fa.v = c.a JOIN feat fb ON fb.v = c.b
    ORDER BY cosine DESC, c.a, c.b LIMIT 50
    """,
)
def an_link_prediction_embedding(spark, sf_dir):
    """The `predict` surface with structural node embeddings: candidate
    pairs scored by embedding cosine (deterministic GraphSAGE stand-in —
    supervised.py:41-212 dot-product edge scoring). f0 = own degree
    (MIN(d.deg) is constant per group), f1..f3 = neighbor-degree
    sum/max/min = the 1-hop aggregation a SAGE layer computes. Wedge
    centers capped at 16×⌈avg degree⌉ by default (sampling budget)."""
    from jasminegraph_spark.analytics import link_prediction_embedding

    return link_prediction_embedding(co_order_edges(spark, sf_dir), top_k=50, min_common=2)


def cypher_call_procedure(spark, sf_dir):
    """CALL ... YIELD (grammar tokens the reference recognizes but never
    plans — SURVEY §2.1): analytics procedures composable inside a query.
    In-degree distribution of the property graph, post-filtered by the
    YIELD WHERE."""
    return _cy(
        spark,
        sf_dir,
        "CALL algo.degreeDistribution('in') YIELD degree, n_nodes "
        "WHERE degree > 1 RETURN degree, n_nodes ORDER BY degree",
    )


_QUERIES["cypher_call_procedure"] = cypher_call_procedure
_ORACLES["cypher_call_procedure"] = (
    TPCH_GRAPH_CTE
    + """
    , deg AS (
        SELECT dst, COUNT(*) AS degree FROM g_edges GROUP BY dst
    )
    SELECT degree, COUNT(*) AS n_nodes FROM deg
    GROUP BY degree HAVING degree > 1 ORDER BY degree
    """
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 2-hop Cypher-style expansion over the property graph at
    sf0.001 (scan → coerced filter → expand → expand → project)."""
    return cy_expand_two_hop(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _QUERIES


def oracle_sql() -> dict[str, str]:
    return _ORACLES
