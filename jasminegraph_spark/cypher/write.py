"""Cypher write clauses (SET / DELETE / DETACH DELETE / MERGE) against a
parquet-backed graph.

The reference's grammar recognizes these but its planner never implements
them (QueryPlanner.cpp TODO branches — SURVEY §2.1 'unimplemented Cypher
surface'); only CREATE is live. On the DataFrame substrate they are
read-transform-replace snapshots of the nodes/edges tables:

 * SET    — map_concat property update on the matched id set
 * DELETE — anti-join removal (plain DELETE refuses when incident edges
            remain, matching Cypher semantics; DETACH removes them)
 * MERGE  — match-or-create on (labels, literal properties)

This module builds those frames and never touches the files itself: SET,
REMOVE, DELETE and MERGE … ON MATCH hand the new table to
``graph.replace``, which writes it beside the table and swaps it in by
two renames (a store read heals a swap a crash cut short); CREATE,
MATCH … CREATE and MERGE's creations hand their rows to ``graph.append``.
On a real deployment this is a table-format transaction (Delta/Iceberg
MERGE/DELETE); plain parquet directories keep the engine dependency-free
here — the transform plans are identical either way.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from jasminegraph_spark.cache import checkpoint
from jasminegraph_spark.cypher import ast
from jasminegraph_spark.cypher.compiler import CypherCompileError, _Compiler, create_rows, node_id
from jasminegraph_spark.cypher.parser import parse
from jasminegraph_spark.graph import (
    EDGE_SCHEMA,
    NODE_SCHEMA,
    PropertyGraph,
    append,
    read_store,
    replace,
)


def cypher_write(
    spark: SparkSession, graph_path: str, text: str, is_directed: bool | None = None
) -> dict:
    """Execute a write query against the graph stored at ``graph_path``.
    Returns mutation stats (nodes_set / nodes_deleted / edges_deleted /
    nodes_created / edges_created). Directedness comes from the store's
    ``_meta.json`` unless given."""
    q = parse(text)
    if q.is_create:
        # the rows are Python lists, so counting them needs no Spark job
        node_rows, edge_rows = create_rows(q)
        append(spark.createDataFrame(node_rows, NODE_SCHEMA), f"{graph_path}/nodes")
        if edge_rows:
            append(spark.createDataFrame(edge_rows, EDGE_SCHEMA), f"{graph_path}/edges")
        return {"nodes_created": len(node_rows), "edges_created": len(edge_rows)}
    if q.write_clause is None:
        raise CypherCompileError("not a write query (no SET/DELETE/MERGE/CREATE)")
    g = read_store(spark, graph_path, is_directed)

    if isinstance(q.write_clause, ast.MergeClause):
        return _merge(spark, graph_path, g, q.write_clause)

    # compile the reading part to bind variables
    comp = _Compiler(g)
    df = None
    for clause in q.clauses:
        if isinstance(clause, ast.MatchClause) and not clause.optional:
            for pattern in clause.patterns:
                df = comp.compile_pattern(pattern, df)
            if clause.where is not None:
                df = df.filter(comp.predicate(clause.where))
        else:
            raise CypherCompileError("write queries support plain MATCH clauses only")
    if df is None:
        raise CypherCompileError("write clause requires a MATCH part")

    wc = q.write_clause
    # CREATE only appends, so its lazy match never reads a file the write
    # removes; SET materializes just the matched ids before it rewrites
    if isinstance(wc, ast.CreateRelClause):
        return _create_rel(graph_path, g, df, comp, wc)
    if isinstance(wc, ast.SetClause):
        return _set(graph_path, g, df, comp, wc)
    # materialize the match BEFORE any mutation: replace rewrites the
    # parquet files the lazy match plan still references, so a second
    # REMOVE item (or the node phase of a DELETE after its edge phase)
    # would otherwise re-scan deleted files
    df = checkpoint(df)

    if isinstance(wc, ast.RemoveClause):
        stats = {"nodes_updated": 0}
        for item in wc.items:
            if item.var not in comp.node_vars:
                raise CypherCompileError(
                    f"REMOVE target {item.var} is not a node variable"
                )
            ids = df.select(F.col(f"{item.var}.id").alias("__id")).distinct()
            stats["nodes_updated"] = ids.count()
            joined = g.nodes.join(ids, g.nodes.id == F.col("__id"), "left")
            if item.key is not None:
                updated = joined.select(
                    "id",
                    "label",
                    F.when(
                        F.col("__id").isNotNull(),
                        F.map_filter("properties", lambda k, v: k != F.lit(item.key)),
                    )
                    .otherwise(F.col("properties"))
                    .alias("properties"),
                )
            else:
                # REMOVE n:Label — clears the label where it matches
                # (single-label model twin of openCypher's set removal)
                updated = joined.select(
                    "id",
                    F.when(
                        F.col("__id").isNotNull() & (F.col("label") == item.label),
                        F.lit(None).cast("string"),
                    )
                    .otherwise(F.col("label"))
                    .alias("label"),
                    "properties",
                )
            replace(updated, f"{graph_path}/nodes")
            g = read_store(spark, graph_path, g.is_directed)
        return stats

    if isinstance(wc, ast.DeleteClause):
        stats = {"nodes_deleted": 0, "edges_deleted": 0}
        node_ids = None
        for var in wc.vars:
            if var in comp.rel_vars:
                rel_ids = df.select(F.col(f"{var}.id").alias("__id")).distinct()
                # count the matched side once (semi join) instead of two
                # full-table counts (total − kept)
                stats["edges_deleted"] += g.edges.join(
                    rel_ids, g.edges.id == F.col("__id"), "left_semi"
                ).count()
                kept = g.edges.join(rel_ids, g.edges.id == F.col("__id"), "left_anti")
                replace(kept, f"{graph_path}/edges")
                g = read_store(spark, graph_path, g.is_directed)
            elif var in comp.node_vars:
                ids = df.select(F.col(f"{var}.id").alias("__id")).distinct()
                node_ids = ids if node_ids is None else node_ids.union(ids).distinct()
            else:
                raise CypherCompileError(f"DELETE target {var} is unbound")
        if node_ids is not None:
            incident = g.edges.join(
                node_ids,
                (g.edges.src == F.col("__id")) | (g.edges.dst == F.col("__id")),
                "left_semi",
            )
            n_incident = incident.count()
            if n_incident and not wc.detach:
                raise CypherCompileError(
                    f"cannot DELETE nodes with {n_incident} incident relationships; "
                    "use DETACH DELETE"
                )
            if wc.detach and n_incident:
                kept_edges = g.edges.join(
                    node_ids,
                    (g.edges.src == F.col("__id")) | (g.edges.dst == F.col("__id")),
                    "left_anti",
                )
                stats["edges_deleted"] += n_incident
                replace(kept_edges, f"{graph_path}/edges")
            stats["nodes_deleted"] = g.nodes.join(
                node_ids, g.nodes.id == F.col("__id"), "left_semi"
            ).count()
            kept_nodes = g.nodes.join(node_ids, g.nodes.id == F.col("__id"), "left_anti")
            replace(kept_nodes, f"{graph_path}/nodes")
        return stats

    raise CypherCompileError(f"unsupported write clause {wc!r}")


def _set(graph_path: str, g: PropertyGraph, df, comp, wc: ast.SetClause) -> dict:
    """SET n.key = v / SET n:Label on the matched nodes. The distinct
    matched ids of each target variable are materialized once, so the
    count and the rewrite do not each run the match, and are joined into
    ONE rewrite of ``nodes/`` that applies the items in order."""
    targets = []
    for item in wc.items:
        if item.var not in comp.node_vars:
            raise CypherCompileError(f"SET target {item.var} is not a node variable")
        if item.var not in targets:
            targets.append(item.var)
    nodes, hit, counts = g.nodes, {}, {}
    for i, var in enumerate(targets):
        key = f"__id{i}"
        # a lazy checkpoint: the count materializes it, in one job fewer
        ids = checkpoint(df.select(F.col(f"{var}.id").alias(key)).distinct(), eager=False)
        counts[var] = ids.count()
        nodes = nodes.join(ids, nodes.id == F.col(key), "left")
        hit[var] = F.col(key).isNotNull()
    label, props = F.col("label"), F.col("properties")
    for item in wc.items:
        if isinstance(item, ast.SetLabelItem):
            # single-label model: SET n:Label RELABELS the matched nodes
            # (openCypher would add to a label set — divergence
            # documented on the AST node)
            label = F.when(hit[item.var], F.lit(item.label)).otherwise(label)
        else:
            # NODE_SCHEMA allows NULL properties, and map_filter(NULL) is
            # NULL: without the coalesce the update would be dropped
            kept = F.coalesce(props, F.create_map().cast("map<string,string>"))
            props = F.when(
                hit[item.var],
                F.map_concat(
                    F.map_filter(kept, lambda k, v: k != F.lit(item.key)),
                    F.create_map(F.lit(item.key), F.lit(str(item.value))),
                ),
            ).otherwise(props)
    replace(
        nodes.select("id", label.alias("label"), props.alias("properties")),
        f"{graph_path}/nodes",
    )
    return {"nodes_set": counts[wc.items[-1].var]}


def _create_rel(graph_path: str, g: PropertyGraph, df, comp, wc) -> dict:
    """MATCH ... CREATE (a)-[:T {..}]->(b): one new relationship per
    DISTINCT matched (a, b) endpoint pair (the distinct is a determinism
    guard — re-running the same statement is idempotent because edge ids
    are content-derived and pre-existing ids are skipped, unlike
    openCypher's per-row unconditional CREATE; documented divergence)."""
    p = wc.pattern
    if len(p.nodes) != 2 or len(p.rels) != 1:
        raise CypherCompileError(
            "MATCH ... CREATE supports a single (a)-[:T]->(b) relationship pattern"
        )
    a, b = p.nodes[0].var, p.nodes[1].var
    rel = p.rels[0]
    for v in (a, b):
        if v not in comp.node_vars:
            raise CypherCompileError(f"CREATE endpoint {v} is not a bound node variable")
    if rel.direction == "in":
        a, b = b, a
    rtype = rel.types[0] if rel.types else None
    props = {k: str(v) for k, v in rel.props.items()}
    prop_col = (
        F.create_map(*[x for kv in props.items() for x in (F.lit(kv[0]), F.lit(kv[1]))])
        if props
        else F.create_map().cast("map<string,string>")
    )
    pairs = df.select(
        F.col(f"{a}.id").alias("src"), F.col(f"{b}.id").alias("dst")
    ).distinct()
    new_edges = pairs.select(
        F.concat(
            F.col("src"), F.lit("->"), F.col("dst"), F.lit(f":{rtype if rtype else 0}")
        ).alias("id"),
        "src",
        "dst",
        F.lit(rtype).alias("type"),
        prop_col.alias("properties"),
    )
    fresh = new_edges.join(g.edges.select("id"), "id", "left_anti")
    return {"edges_created": append(fresh, f"{graph_path}/edges")}


def _node_cond(node: ast.NodePattern):
    cond = F.lit(True)
    if node.labels:
        cond = cond & (F.col("label") == node.labels[0])
    for k, v in node.props.items():
        cond = cond & (F.col("properties")[k] == str(v))
    return cond


def _create_merge_node(
    spark, graph_path: str, node: ast.NodePattern, extra_props: dict | None = None
) -> str:
    """Create a node for a MERGE miss by constructing the row DIRECTLY,
    with the id CREATE gives the same pattern (``compiler.node_id``) —
    no generated-CREATE-text round-trip, so property values containing
    quotes/braces cannot inject into or break the statement. The id
    derives from the MATCH pattern's label+props only — ``extra_props``
    (ON CREATE SET items) are applied after, so the same MERGE pattern
    resolves to the same node regardless of its ON CREATE payload.
    Returns the new node id."""
    props = {k: str(v) for k, v in node.props.items()}
    nid = node_id(node.labels, props)
    props.update({k: str(v) for k, v in (extra_props or {}).items()})
    row = (nid, node.labels[0] if node.labels else None, props)
    append(spark.createDataFrame([row], NODE_SCHEMA), f"{graph_path}/nodes")
    return nid


def _merge_endpoint(spark, graph_path: str, g: PropertyGraph, node: ast.NodePattern):
    """Resolve a MERGE endpoint: the MIN matching node id (deterministic
    when the label+props match several), creating the node when nothing
    matches. Returns (node_id, n_created, refreshed_graph)."""
    row = g.nodes.filter(_node_cond(node)).agg(F.min("id").alias("id")).first()
    if row and row["id"] is not None:
        return row["id"], 0, g
    nid = _create_merge_node(spark, graph_path, node)
    return nid, 1, read_store(spark, graph_path, g.is_directed)


def _merge(spark, graph_path: str, g: PropertyGraph, mc: ast.MergeClause) -> dict:
    pattern = mc.pattern
    if (mc.on_create or mc.on_match) and len(pattern.nodes) != 1:
        raise CypherCompileError(
            "ON CREATE/ON MATCH SET is supported on single-node MERGE"
        )
    if len(pattern.nodes) == 2 and len(pattern.rels) == 1:
        # relationship upsert: MERGE (a ..)-[:T]->(b ..) — resolve/create
        # both endpoints, then create the typed edge iff absent
        rel = pattern.rels[0]
        na, nb = pattern.nodes
        if rel.direction == "in":
            na, nb = nb, na
        rtype = rel.types[0] if rel.types else None
        sa, ca, g = _merge_endpoint(spark, graph_path, g, na)
        sb, cb, g = _merge_endpoint(spark, graph_path, g, nb)
        cond = (F.col("src") == sa) & (F.col("dst") == sb)
        if rtype:
            cond = cond & (F.col("type") == rtype)
        if g.edges.filter(cond).take(1):
            return {"nodes_created": ca + cb, "edges_created": 0, "matched": True}
        props = {k: str(v) for k, v in rel.props.items()}
        rid = f"{sa}->{sb}:{rtype if rtype else 0}"
        row = (rid, sa, sb, rtype, props)
        append(spark.createDataFrame([row], EDGE_SCHEMA), f"{graph_path}/edges")
        return {"nodes_created": ca + cb, "edges_created": 1, "matched": False}
    if len(pattern.nodes) != 1:
        raise CypherCompileError(
            "MERGE supports single-node and (a)-[:T]->(b) relationship patterns"
        )
    node = pattern.nodes[0]
    cond = _node_cond(node)
    if g.nodes.filter(cond).take(1):
        stats = {"nodes_created": 0, "matched": True}
        if mc.on_match:
            # ON MATCH SET applies to EVERY matched node (openCypher)
            updates = {i.key: str(i.value) for i in mc.on_match}
            upd_map = F.create_map(
                *[x for k, v in updates.items() for x in (F.lit(k), F.lit(v))]
            )
            keys = list(updates)
            updated = g.nodes.select(
                "id",
                "label",
                F.when(
                    cond,
                    F.map_concat(
                        # NODE_SCHEMA allows NULL properties; map_filter(NULL)
                        # would propagate NULL and silently drop the update
                        F.map_filter(
                            F.coalesce(
                                F.col("properties"),
                                F.create_map().cast("map<string,string>"),
                            ),
                            lambda k, v: ~k.isin(keys),
                        ),
                        upd_map,
                    ),
                )
                .otherwise(F.col("properties"))
                .alias("properties"),
            )
            stats["nodes_set"] = g.nodes.filter(cond).count()
            replace(updated, f"{graph_path}/nodes")
        return stats
    _create_merge_node(
        spark, graph_path, node, {i.key: i.value for i in mc.on_create}
    )
    stats = {"nodes_created": 1, "matched": False}
    if mc.on_create or mc.on_match:
        stats["nodes_set"] = 1 if mc.on_create else 0
    return stats
