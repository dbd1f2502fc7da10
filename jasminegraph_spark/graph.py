"""Property-graph data model, Spark-first.

The reference stores a partitioned property graph in fixed-size binary
block files (nodes: src/nativestore/NodeBlock.h:33-48, edges:
src/nativestore/RelationBlock.h:34-118, properties string→char[10000]:
src/nativestore/PropertyLink.h:24-29), splitting every edge into *local*
vs *central* (edge-cut) replicas. Here a graph is two DataFrames; Spark's
shuffle co-locates join keys, so the local/central split and the
``partitionID`` meta-property (src/nativestore/MetaPropertyLink.h) are
replaced by an optional derived ``pid`` column used only when an explicit
k-way partitioning is requested (mirrors the HASH partitioner,
src/partitioner/stream/Partitioner.cpp:110-121).

Canonical schemas (SURVEY §1.5), declared as NODE_SCHEMA / EDGE_SCHEMA:
  nodes: id string, label string, properties map<string,string>
  edges: id string, src string, dst string, type string,
         properties map<string,string>
A stored graph is read with them (``read_store``), never by inferring a
schema from its files. The store is written only here, in two ways: a
crash-safe swap of a table or a whole graph directory (``replace``,
healed by ``heal_table``) and an append of rows (``append``).

Properties are map<string,string> because the reference's storage is
schemaless all-string (SURVEY §1.3); typed values are coerced at predicate
sites (operators.predicates).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jasminegraph_spark.topology import Topology

NODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("label", T.StringType(), True),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("type", T.StringType(), True),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


@dataclass
class PropertyGraph:
    """A property graph: nodes + edges DataFrames and a directedness flag
    (metadb ``graph.is_directed``, reference ddl/metadb.sql:17)."""

    nodes: DataFrame
    edges: DataFrame
    is_directed: bool = True
    name: str = "graph"
    #: optional schema-level invariant declared by the graph BUILDER
    #: (r14, guide §2.4/§3): ``{rel_type: (src_labels, dst_labels)}`` with
    #: each side a tuple of node labels — every edge of ``rel_type`` is
    #: guaranteed to have its endpoint's label in the declared set (the
    #: property-graph analogue of a relational FK constraint / Neo4j's
    #: relationship-type schema). Operators that join a type-filtered edge
    #: frame against ``nodes`` use it to prune the node-union to the
    #: declared labels — a pure plan optimization: the id join can only
    #: ever match those branches, so results are unchanged. ``None`` (the
    #: default) declares nothing and disables the pruning.
    rel_endpoint_labels: dict | None = None

    def undirected_edges(self) -> DataFrame:
        """Both orientations of every edge — the reference's undirected
        traversal walks source- and destination-side adjacency lists
        (OperatorExecutor.cpp:490-494,536-542). A symmetric union lets every
        downstream join stay orientation-agnostic without special cases."""
        e = self.edges
        rev = e.select(
            F.col("id"), F.col("dst").alias("src"), F.col("src").alias("dst"), "type", "properties"
        )
        return e.unionByName(rev)

    def traversal_edges(self) -> DataFrame:
        """Edges as traversed: directed graphs keep orientation, undirected
        graphs expand to both orientations."""
        return self.edges if self.is_directed else self.undirected_edges()

    def with_pid(self, k: int) -> "PropertyGraph":
        """Derive an explicit k-way hash partition id (reference HASH
        partitioner semantics). Rarely needed — Spark co-partitions on join
        keys — but exposed for parity with partition-aware surfaces."""
        pid = lambda c: F.pmod(F.xxhash64(F.col(c)), F.lit(k)).cast("int")  # noqa: E731
        return PropertyGraph(
            nodes=self.nodes.withColumn("pid", pid("id")),
            edges=self.edges.withColumn("pid", pid("src")),
            is_directed=self.is_directed,
            name=self.name,
            rel_endpoint_labels=self.rel_endpoint_labels,
        )

    def vertex_count(self) -> int:
        """`vcnt` (FrontEnd.cpp:315-318)."""
        return self.nodes.count()

    def edge_count(self) -> int:
        """`ecnt` (FrontEnd.cpp:315-318)."""
        return self.edges.count()


def heal_table(path: str) -> None:
    """Finish a swap (``replace``) that a crash cut short, at a table or
    at a whole graph directory. The swap renames ``path`` to
    ``path__old``, renames the new ``path__tmp`` to ``path``, then
    deletes ``path__old``. A missing ``path`` with an ``__old`` beside it
    is restored (the old content); a leftover ``__tmp`` or ``__old`` is
    dropped."""
    path = path.rstrip("/")
    tmp, old = f"{path}__tmp", f"{path}__old"
    if not os.path.isdir(path) and os.path.isdir(old):
        os.rename(old, path)
    for leftover in (tmp, old):
        if os.path.isdir(leftover):
            shutil.rmtree(leftover)


def replace(content: DataFrame | dict, path: str, meta: dict | None = None) -> None:
    """Swap new content in at ``path``, the one way the store is
    rewritten. The content is written beside ``path`` at ``path__tmp``,
    then ``path`` (when there is one) is renamed to ``path__old``,
    ``path__tmp`` to ``path``, and ``__old`` is deleted. A crash at any
    step leaves the old or the new content, and the next store read
    (``heal_table``) tidies up; writing beside also lets a rewrite read
    the table it replaces, which Spark cannot overwrite in place.

    ``content`` is a DataFrame, written as the parquet table at
    ``path``, or ``{name: DataFrame}``, one table per name under the
    graph directory ``path``, with ``meta`` as its ``_meta.json``."""
    path = path.rstrip("/")
    tmp, old = f"{path}__tmp", f"{path}__old"
    heal_table(path)
    if isinstance(content, DataFrame):
        content.write.mode("overwrite").parquet(tmp)
    else:
        os.makedirs(tmp)
        # first, so a graph's __tmp is recognisable as one (engine.truncate)
        with open(f"{tmp}/_meta.json", "w") as fh:
            json.dump(meta, fh)
        for name, df in content.items():
            df.write.mode("overwrite").parquet(f"{tmp}/{name}")
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.isdir(old):
        shutil.rmtree(old)


def _part_files(path: str) -> set:
    if not os.path.isdir(path):
        return set()
    return {f for f in os.listdir(path) if f.endswith(".parquet")}


def append(df: DataFrame, path: str) -> int:
    """Append ``df`` to the table at ``path`` in one job, the one way
    rows are added to the store, and return the number of rows it
    added, read from the footers of the part files the append wrote (no
    counting pass). An empty part file, which Spark writes when there is
    nothing to append, is removed."""
    before = _part_files(path)
    df.write.mode("append").parquet(path)
    added = 0
    for name in _part_files(path) - before:
        rows = pq.read_metadata(os.path.join(path, name)).num_rows
        if rows == 0:
            for junk in (name, f".{name}.crc"):
                if os.path.exists(os.path.join(path, junk)):
                    os.remove(os.path.join(path, junk))
        added += rows
    return added


def read_store(
    spark: SparkSession, graph_path: str, is_directed: bool | None = None
) -> PropertyGraph:
    """The graph stored at ``graph_path``, read with its known schema —
    NODE_SCHEMA / EDGE_SCHEMA, which every ingest verb and CREATE write,
    unless ``_meta.json`` records another — so the read runs no
    schema-inference job. Directedness comes from ``_meta.json`` unless
    given (True when there is none). A store whose CREATEs made only
    nodes has no ``edges/`` yet and reads as an empty edge table. A swap
    a crash cut short is healed first at the graph directory
    (``GraphCatalog.save``), then at each table (Cypher rewrites)."""
    heal_table(graph_path)
    meta_path = f"{graph_path}/_meta.json"
    meta = {}
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
    if is_directed is None:
        is_directed = bool(meta.get("is_directed", True))
    recorded = meta.get("schema", {})
    tables = {}
    for table, declared in (("nodes", NODE_SCHEMA), ("edges", EDGE_SCHEMA)):
        path = f"{graph_path}/{table}"
        heal_table(path)
        schema = T.StructType.fromJson(recorded[table]) if table in recorded else declared
        if table == "edges" and not os.path.isdir(path):
            tables[table] = spark.createDataFrame([], schema)
        else:
            tables[table] = spark.read.schema(schema).parquet(path)
    return PropertyGraph(
        nodes=tables["nodes"],
        edges=tables["edges"],
        is_directed=is_directed,
        name=os.path.basename(graph_path.rstrip("/")),
    )


@dataclass
class GraphCatalog:
    """Engine-level catalog replacing the reference's metadb SQLite
    (ddl/metadb.sql: graph/partition/worker tables). Graphs register by
    name; persistence is parquet directories, not block files.

    Each registered snapshot may also hold a resident
    :class:`~jasminegraph_spark.topology.Topology`, built by the first
    analytics call that asks for it and released when the snapshot leaves
    the catalog (replaced by a new registration under its name, removed,
    or truncated)."""

    spark: SparkSession
    _graphs: dict = field(default_factory=dict)
    _topologies: dict = field(default_factory=dict)

    def register(self, graph: PropertyGraph) -> PropertyGraph:
        self._release_topology(graph.name)
        self._graphs[graph.name] = graph
        return graph

    def topology(self, name: str) -> Topology:
        """The snapshot's resident adjacency, built on first use and
        rebuilt if its cache entry was dropped (``spark.catalog.clearCache``)."""
        topo = self._topologies.get(name)
        if topo is None or not topo.live:
            topo = self._topologies[name] = Topology.build(self.get(name).edges)
        return topo

    def _release_topology(self, name: str) -> None:
        topo = self._topologies.pop(name, None)
        if topo is not None:
            topo.release()

    def get(self, name: str) -> PropertyGraph:
        return self._graphs[name]

    def names(self) -> list:
        """Registered graph names — the public accessor (callers must not
        reach into _graphs)."""
        return list(self._graphs)

    def list_graphs(self) -> list:
        """`lst` command equivalent: name, vertexcount, edgecount, directed."""
        return [
            {
                "name": g.name,
                "vertexcount": g.vertex_count(),
                "edgecount": g.edge_count(),
                "is_directed": g.is_directed,
            }
            for g in self._graphs.values()
        ]

    def remove(self, name: str) -> None:
        """`rmgr` equivalent."""
        self._release_topology(name)
        self._graphs.pop(name, None)

    def save(self, graph: PropertyGraph, base_path: str) -> None:
        """Persist as parquet (replaces FlatBuffers partition files) plus a
        per-graph metadata file (the reference's metadb graph row —
        ddl/metadb.sql:17 stores is_directed there too). A frame whose
        schema differs from the declared one (``construct_kg``'s weighted
        edges) has its schema recorded there, so reads keep every column.
        The whole graph directory is written beside the stored one and
        swapped in (``replace``), so a save that fails or crashes at any
        point leaves the old graph or the new one, never a mix."""
        meta = {"name": graph.name, "is_directed": graph.is_directed}
        tables = {"nodes": graph.nodes, "edges": graph.edges}
        for table, declared in (("nodes", NODE_SCHEMA), ("edges", EDGE_SCHEMA)):
            schema = tables[table].schema
            if schema.simpleString() != declared.simpleString():
                meta.setdefault("schema", {})[table] = schema.jsonValue()
        replace(tables, f"{base_path}/{graph.name}", meta)

    def load(
        self, name: str, base_path: str, is_directed: bool | None = None
    ) -> PropertyGraph:
        """Re-attach a persisted graph. Directedness comes from the saved
        metadata unless explicitly overridden — hardcoding a default would
        silently flip pgrnk symmetrization and Cypher expansion direction
        for directed graphs across CLI invocations."""
        return self.register(read_store(self.spark, f"{base_path}/{name}", is_directed))

    def save_bucketed(self, graph: PropertyGraph, buckets: int = 32) -> None:
        """Materialize as bucketed+sorted tables: nodes bucketed by id,
        edges bucketed by src (both sorted in-bucket).

        This is the storage layout the reference approximates with its
        k-way partitioner + per-partition adjacency files: expansion joins
        (edges.src = nodes.id) become shuffle-free bucket-local joins, and
        id point-seeks prune to one bucket. At 100 TB this turns every hop
        of a traversal from a full shuffle into a co-located join — the
        single biggest scan-cost lever the engine has.
        """
        for suffix in ("nodes", "edges"):
            table = f"{graph.name}_{suffix}"
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")
            # a stale location survives a fresh session's empty in-memory
            # catalog; clear it so saveAsTable doesn't collide
            warehouse = self.spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
            loc = os.path.join(warehouse.removeprefix("file:"), table.lower())
            if os.path.exists(loc):
                shutil.rmtree(loc)
        (
            graph.nodes.write.mode("overwrite")
            .bucketBy(buckets, "id")
            .sortBy("id")
            .format("parquet")
            .saveAsTable(f"{graph.name}_nodes")
        )
        (
            graph.edges.write.mode("overwrite")
            .bucketBy(buckets, "src")
            .sortBy("src")
            .format("parquet")
            .saveAsTable(f"{graph.name}_edges")
        )

    def load_bucketed(self, name: str, is_directed: bool = True) -> PropertyGraph:
        g = PropertyGraph(
            nodes=self.spark.table(f"{name}_nodes"),
            edges=self.spark.table(f"{name}_edges"),
            is_directed=is_directed,
            name=name,
        )
        return self.register(g)


def graph_integrity_report(g: "PropertyGraph"):
    """Graph hygiene check — the validation pass an `adgr`-style ingest
    needs before analytics trust the store (the reference trusts its
    partition files implicitly; a lake-backed graph can't): one row per
    integrity rule with the violation count.

     * dangling_src / dangling_dst — edges whose endpoint id has no node
       row (left-anti join against the node ids)
     * dup_node_ids / dup_edge_ids — ids appearing more than once
     * null_labels — nodes with no label
     * self_loops — src = dst (informational; legal but often a bug)

    Each rule is an anti-join or partial-agg groupBy over one column —
    no rule touches properties, so column pruning keeps the scans
    narrow. Returns (rule string, violations long), deterministic and
    SQL-replayable."""
    from pyspark.sql import functions as F

    ids = g.nodes.select("id")
    spark = g.nodes.sparkSession

    def cnt_dup(df, col):
        return (
            df.groupBy(col).agg(F.count("*").alias("n")).filter(F.col("n") > 1).count()
        )

    rows = [
        ("dangling_dst", g.edges.select(F.col("dst").alias("id")).join(ids, "id", "left_anti").count()),
        ("dangling_src", g.edges.select(F.col("src").alias("id")).join(ids, "id", "left_anti").count()),
        ("dup_edge_ids", cnt_dup(g.edges, "id")),
        ("dup_node_ids", cnt_dup(g.nodes, "id")),
        ("null_labels", g.nodes.filter(F.col("label").isNull()).count()),
        ("self_loops", g.edges.filter(F.col("src") == F.col("dst")).count()),
    ]
    return spark.createDataFrame(
        [(r, int(v)) for r, v in rows], "rule string, violations long"
    )
