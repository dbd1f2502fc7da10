"""The reference's 21 Cypher operators as DataFrame combinators.

Reference planner: src/query/processor/cypher/queryplanner/Operators.h/.cpp;
worker runtime: src/query/processor/cypher/runtime/OperatorExecutor.cpp.
The reference pipelines thread-per-operator with 5-row bounded buffers
(OperatorExecutor.h:57); here every operator is a lazy DataFrame transform,
so Catalyst fuses the chain into whole-stage-codegen pipelines and the
"operator tree" is the logical plan itself.

Row model: each bound Cypher variable is one struct column —
  node var:  struct<id,label,properties>
  rel  var:  struct<id,src,dst,type,properties>
mirroring the reference's in-flight JSON rows ``{var: {props…}}``
(OperatorExecutor.cpp:324-365) but columnar.

Scale notes (100 TB design):
 * Scans are parquet scans — label/id predicates push down to the file
   scan (Catalyst PushedFilters); no full materialization.
 * expand_all is a shuffle join on node id. The reference re-issues
   sub-queries over TCP for remote expansion (OperatorExecutor.cpp:
   1152-1186); shuffle co-location replaces that entirely. AQE picks
   broadcast when the bound side is small.
 * order_by is Spark's distributed sort (external sort + range exchange) —
   the reference hand-rolls a 1 MB-heap spill sort + k-way master merge
   (OperatorExecutor.cpp:1487-1635, CypherQueryExecutor.cpp:225-302).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jasminegraph_spark.graph import PropertyGraph

# ---------------------------------------------------------------------------
# scans (operators 1-8)
# ---------------------------------------------------------------------------


def _node_struct(var: str) -> Column:
    return F.struct("id", "label", "properties").alias(var)


def _rel_struct(var: str) -> Column:
    return F.struct("id", "src", "dst", "type", "properties").alias(var)


def all_node_scan(graph: PropertyGraph, var: str = "n") -> DataFrame:
    """AllNodeScan (Operators.h:70-77; OperatorExecutor.cpp:324-365).
    The reference's parallel variant (:1715-1747) is partition parallelism,
    which Spark provides inherently."""
    return graph.nodes.select(_node_struct(var))


def node_scan_by_label(graph: PropertyGraph, label: str, var: str = "n") -> DataFrame:
    """NodeScanByLabel (Operators.h:35-43; OperatorExecutor.cpp:367-410).
    The label equality is a pushed-down parquet filter."""
    return graph.nodes.filter(F.col("label") == label).select(_node_struct(var))


def multiple_node_scan_by_label(
    graph: PropertyGraph, labels: Sequence[str], var: str = "n"
) -> DataFrame:
    """MultipleNodeScanByLabel (Operators.h:46-54 — planner-only in the
    reference; real here)."""
    return graph.nodes.filter(F.col("label").isin(list(labels))).select(_node_struct(var))


def node_by_id_seek(graph: PropertyGraph, node_id: str, var: str = "n") -> DataFrame:
    """NodeByIdSeek point lookup (Operators.h:57-67; OperatorExecutor.cpp:
    975-995) — a pushed-down point filter; with id-sorted/bucketed storage
    this prunes row groups at scale."""
    return graph.nodes.filter(F.col("id") == node_id).select(_node_struct(var))


def _schema_labels(
    graph: PropertyGraph, rel_type: str | None, side: str
) -> tuple | None:
    """Labels the graph's schema guarantees for one endpoint of a
    type-filtered edge (r14, guide §2.4): ``side`` is 'src', 'dst' or
    'both'. Returns None when the graph declares nothing for the type —
    callers then join the full node frame as before. Purely a plan
    optimization: the endpoint id join can only match nodes of the
    declared labels anyway, so pruning the node union to those labels
    never changes results."""
    decl = graph.rel_endpoint_labels
    if rel_type is None or not decl or rel_type not in decl:
        return None
    src_labels, dst_labels = decl[rel_type]
    if side == "src":
        return tuple(src_labels)
    if side == "dst":
        return tuple(dst_labels)
    return tuple(dict.fromkeys(tuple(src_labels) + tuple(dst_labels)))


def _prune_nodes(nodes: DataFrame, labels: tuple | None) -> DataFrame:
    if not labels:
        return nodes
    if len(labels) == 1:
        return nodes.filter(F.col("label") == labels[0])
    return nodes.filter(F.col("label").isin(list(labels)))


def relationship_scan(
    graph: PropertyGraph,
    src_var: str = "a",
    rel_var: str = "r",
    dst_var: str = "b",
    rel_type: str | None = None,
    directed: bool = True,
) -> DataFrame:
    """The four relationship scans (Operators.h:205-259):
    Directed/Undirected × AllRelationship/RelationshipTypeScan
    (OperatorExecutor.cpp:478-973). Emits (src node, rel, dst node) rows;
    undirected emits both orientations, matching the reference's two-sided
    adjacency walk (:536-542).

    Endpoint property attachment is two joins against nodes on id — at
    scale these are shuffle joins on the node id key; AQE broadcasts the
    node side when a selective rel_type filter makes the edge side small.
    """
    e = graph.edges
    if rel_type is not None:
        e = e.filter(F.col("type") == rel_type)
    oriented = e.select(_rel_struct(rel_var), F.col("src").alias("__from"), F.col("dst").alias("__to"))
    if not directed:
        rev = e.select(
            _rel_struct(rel_var), F.col("dst").alias("__from"), F.col("src").alias("__to")
        )
        oriented = oriented.unionByName(rev)
    # schema-declared endpoint labels prune the node union per side (r14);
    # an undirected scan's __from/__to can be either endpoint, so both
    # sides fall back to the union of the two label sets
    side_from, side_to = ("src", "dst") if directed else ("both", "both")
    n_src = _prune_nodes(graph.nodes, _schema_labels(graph, rel_type, side_from)).select(
        _node_struct(src_var)
    )
    n_dst = _prune_nodes(graph.nodes, _schema_labels(graph, rel_type, side_to)).select(
        _node_struct(dst_var)
    )
    out = (
        oriented.join(n_src, F.col(f"{src_var}.id") == F.col("__from"))
        .join(n_dst, F.col(f"{dst_var}.id") == F.col("__to"))
        .drop("__from", "__to")
    )
    return out.select(src_var, rel_var, dst_var)


# ---------------------------------------------------------------------------
# expand (operator 9)
# ---------------------------------------------------------------------------


def expand_all(
    df: DataFrame,
    graph: PropertyGraph,
    from_var: str,
    rel_var: str,
    to_var: str,
    rel_type: str | None = None,
    direction: str = "out",
    unique_vs: Iterable[str] = (),
    optional: bool = False,
    to_labels: Sequence[str] | None = None,
) -> DataFrame:
    """ExpandAll (Operators.h:119-132; OperatorExecutor.cpp:997-1188).

    For each bound row, traverse from ``from_var`` along edges (optionally
    type-filtered) binding ``rel_var`` and ``to_var``. The reference walks
    native-store adjacency lists and ships sub-queries to other workers for
    remote endpoints (:1152-1186); here it is one shuffle join on node id —
    co-location is automatic and the remote case vanishes.

    ``unique_vs``: previously-bound relationship variables; Cypher requires
    distinct relationships within a pattern, which the reference injects as
    `r1 <> r2` filters (QueryPlanner.cpp:571-582). We inject the same on
    relationship ids.

    direction: 'out' | 'in' | 'both' ('both' also used when the graph is
    undirected, OperatorExecutor.cpp:490-494).

    ``optional=True`` → OPTIONAL MATCH semantics: a left outer join that
    preserves unmatched rows with null rel/to bindings; relationship-
    uniqueness predicates move into the join condition (a post-filter
    would drop the null-extended rows).
    """
    e = graph.edges
    if rel_type is not None:
        e = e.filter(F.col("type") == rel_type)
    if not graph.is_directed:
        direction = "both"
    fwd = e.select(_rel_struct(rel_var), F.col("src").alias("__from"), F.col("dst").alias("__to"))
    rev = e.select(_rel_struct(rel_var), F.col("dst").alias("__from"), F.col("src").alias("__to"))
    oriented = {"out": fwd, "in": rev, "both": fwd.unionByName(rev)}[direction]
    n_to_src = graph.nodes
    if to_labels:
        # label filter on the node side of the join — pushes to the scan
        n_to_src = n_to_src.filter(F.col("label").isin(list(to_labels)))
    else:
        # no semantic label constraint: prune the node union to the labels
        # the graph's schema guarantees for this endpoint (r14, guide
        # §2.4) — 'out' lands on the dst side, 'in' on the src side,
        # 'both' on either. No-op when the graph declares nothing.
        side = {"out": "dst", "in": "src", "both": "both"}[direction]
        n_to_src = _prune_nodes(n_to_src, _schema_labels(graph, rel_type, side))
    n_to = n_to_src.select(_node_struct(to_var))

    if optional:
        # attach the endpoint first, then one left join against the input
        sub = oriented.join(n_to, F.col(f"{to_var}.id") == F.col("__to"))
        cond = F.col(f"{from_var}.id") == F.col("__from")
        for prev in unique_vs:
            cond = cond & (F.col(f"{rel_var}.id") != F.col(f"{prev}.id"))
        return df.join(sub, cond, "left").drop("__from", "__to")

    # inner path: join the (selective) bound side against edges first so
    # the endpoint-node join only sees the surviving frontier
    out = df.join(oriented, F.col(f"{from_var}.id") == F.col("__from"))
    for prev in unique_vs:
        out = out.filter(F.col(f"{rel_var}.id") != F.col(f"{prev}.id"))
    out = out.join(n_to, F.col(f"{to_var}.id") == F.col("__to")).drop("__from", "__to")
    return out


# ---------------------------------------------------------------------------
# row operators (10-21)
# ---------------------------------------------------------------------------


def filter_rows(df: DataFrame, predicate: Column) -> DataFrame:
    """Filter (Operators.h:93-105; predicate tree eval Helpers.cpp:17-290).
    The reference evaluates 100-row batches on a thread pool
    (OperatorExecutor.cpp:454-475); Catalyst vectorizes instead."""
    return df.filter(predicate)


def project(df: DataFrame, **exprs: Column) -> DataFrame:
    """Projection (Operators.h:108-116; OperatorExecutor.cpp:1212-1255) —
    `n.prop` lookups and AS aliases."""
    return df.select(*[c.alias(name) for name, c in exprs.items()])


def produce_results(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """ProduceResults (Operators.h:80-90) — keep only returned variables.
    The master-merge socket streaming (InstanceHandler.cpp:69-121) is
    replaced by collect()/toLocalIterator at the call site."""
    return df.select(*cols)


def distinct(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Distinct (Operators.h:156-164). The reference runtime is a copy of
    Projection and never dedups (OperatorExecutor.cpp:1351-1394) — we
    implement the real semantics (map-side partial dedup + shuffle dedup)."""
    return df.dropDuplicates(list(cols)) if cols else df.distinct()


def order_by(df: DataFrame, *keys: Column) -> DataFrame:
    """OrderBy (Operators.h:167-174) — distributed range-partitioned sort;
    replaces the reference's per-worker external sort + master k-way merge
    (OperatorExecutor.cpp:1396-1635, CypherQueryExecutor.cpp:225-302)."""
    return df.orderBy(*keys)


def limit_skip(df: DataFrame, limit: int | None = None, skip: int = 0) -> DataFrame:
    """Limit / Skip — planner stubs in the reference (Operators.cpp:334-350);
    real here. offset+limit compose; Spark pushes LocalLimit below the
    exchange so only ~limit rows per partition shuffle."""
    out = df
    if skip:
        out = out.offset(skip)
    if limit is not None:
        out = out.limit(limit)
    return out


def aggregate(
    df: DataFrame, group_by: Sequence[Column] | None, aggs: dict[str, Column]
) -> DataFrame:
    """AggregationFunction (Operators.h:274-284). The reference implements
    only global avg as worker partials + weighted master combine
    (Helpers.cpp:332-345, Aggregation.cpp:33-47); Spark's partial/final
    hash aggregation is the same algorithm generalized, so we expose the
    full agg surface (count/sum/min/max/avg/collect, grouped or global)."""
    named = [c.alias(n) for n, c in aggs.items()]
    if group_by:
        return df.groupBy(*group_by).agg(*named)
    return df.agg(*named)


def cartesian_product(left: DataFrame, right: DataFrame) -> DataFrame:
    """CartesianProduct (Operators.h:297-306). The reference re-executes the
    right stream per left row and broadcasts across partitions
    (OperatorExecutor.cpp:1283-1349); Spark's BroadcastNestedLoopJoin does
    the broadcast once."""
    return left.crossJoin(right)


def union_rows(a: DataFrame, b: DataFrame, distinct_rows: bool = True) -> DataFrame:
    """Union — stub in the reference (Operators.cpp:414-432); real here.
    Cypher UNION dedups; UNION ALL doesn't."""
    u = a.unionByName(b)
    return u.distinct() if distinct_rows else u


def intersect_rows(a: DataFrame, b: DataFrame) -> DataFrame:
    """Intersection — stub in the reference (Operators.cpp:414-432)."""
    return a.intersect(b)
