"""Resident adjacency of one graph snapshot.

The reference's batch analytics read one in-memory adjacency map per
partition, and triangles, PageRank, degree and egonet all walk that same
map (the HashMap local store, src/localstore/JasmineGraphHashMapLocalStore.h).
:class:`Topology` is that map on Spark: the symmetrized, distinct
adjacency ``(u, v, deg_u, deg_v)``, hash-partitioned by ``u``, persisted
and materialised once, plus its vertex and row counts. Every undirected
algorithm that reads it (``trian``, ``wcc``, ``egonet``, undirected
``pgrnk``) starts from rows already deduplicated, degree-annotated and
partitioned by the key its per-round aggregation groups on, so none of
them pays a distinct, degree or repartition job of its own.

``GraphCatalog`` keeps one per registered graph snapshot, built on the
first analytics call and released when the snapshot leaves the catalog.
Its memory cost is ~2|E| rows (each undirected edge in both
orientations; a self-loop once).

While a topology holds at most :data:`DRIVER_PAIRS` undirected pairs,
``wcc`` and undirected ``pgrnk`` collect its canonical half once
(:meth:`Topology.collect_pairs`) and finish on the driver in numpy, one
Spark job per call whatever the rounds; past the bound they run their
rounds on the cluster.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: The most undirected pairs an analytic collects to the driver; past it,
#: wcc and pgrnk run their rounds on the cluster. 2M pairs of long ids are
#: 32 MB of Arrow, far under ``spark.driver.maxResultSize`` (1 GiB by
#: default).
DRIVER_PAIRS = 2_000_000


@dataclass(frozen=True)
class Topology:
    adj: DataFrame  # (u, v, deg_u, deg_v): persisted, hash-partitioned by u
    n_vertices: int
    n_rows: int  # adjacency rows: twice the simple edges, plus one per self-loop
    shared: bool  # adj's cache entry predates this topology

    @classmethod
    def build(cls, edges: DataFrame, distinct: bool = True) -> "Topology":
        """Symmetrize ``edges`` (``src``/``dst``) and annotate each row with
        both endpoint degrees: two keyed exchanges, no join.

        The symmetric set holds (v, u) for every (u, v), so after one
        exchange by ``u`` a window count gives ``deg_u``; flipping every
        row to (v, u, deg_u) and exchanging by the new ``u`` yields the
        same row set with the old ``deg_u`` now the ``deg_v`` column, and a
        second window count fills ``deg_u``. ``distinct=False`` asserts the
        symmetrized rows carry no duplicates (true for a canonical a<b
        distinct edge set) and skips the in-partition dedup."""
        by_u = Window.partitionBy("u")
        e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).repartition("u")
        if distinct:
            # (u, v) rows are clustered by u already: a dedup with no exchange
            sym = sym.distinct()
        half = sym.select("u", "v", F.count("*").over(by_u).alias("deg_u"))
        adj = (
            half.select(F.col("v").alias("u"), F.col("u").alias("v"), F.col("deg_u").alias("deg_v"))
            .repartition("u")
            .select("u", "v", F.count("*").over(by_u).alias("deg_u"), "deg_v")
        )
        shared = _cached(adj)
        if not shared:
            adj = adj.persist()
        # the one action: builds every cached partition (a cache always
        # stores all of its columns) and counts the vertices and the rows;
        # the per-u counts need no exchange on the u-partitioned rows
        row = adj.groupBy("u").count().agg(F.count("*"), F.sum("count")).first()
        return cls(adj, row[0], row[1] or 0, shared)

    @property
    def live(self) -> bool:
        """False once the cache entry is gone, e.g. after
        ``spark.catalog.clearCache()``. Reads the CacheManager's state
        through ``storageLevel``: ``is_cached`` stays True on Spark 4.1."""
        return _cached(self.adj)

    @property
    def on_driver(self) -> bool:
        """True while it holds at most :data:`DRIVER_PAIRS` undirected pairs."""
        return self.n_rows <= 2 * DRIVER_PAIRS

    def collect_pairs(self) -> tuple[pa.Array, np.ndarray, np.ndarray]:
        """The ``u <= v`` half of the adjacency in one Spark job: the sorted
        vertex ids and, per collected row, the indices of ``u`` and ``v``
        into them. Each undirected edge comes once and a self-loop once as
        ``u == v``. Arrow sorts the ids as Spark orders them (numbers by
        value, strings bytewise), so index order is id order."""
        pairs = self.adj.filter(F.col("u") <= F.col("v")).select("u", "v").toArrow()
        ids = pc.unique(pa.chunked_array(pairs["u"].chunks + pairs["v"].chunks, pairs["u"].type))
        ids = ids.take(pc.sort_indices(ids))
        u = pc.index_in(pairs["u"], value_set=ids).to_numpy()
        v = pc.index_in(pairs["v"], value_set=ids).to_numpy()
        return ids, u, v

    def release(self) -> None:
        self.adj.unpersist()


def _cached(df: DataFrame) -> bool:
    """Whether the CacheManager holds ``df``'s plan: ``storageLevel`` looks
    the plan up, so an equal plan built elsewhere reads as cached."""
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def topology_of(edges, distinct: bool = True) -> tuple[Topology, tuple]:
    """The topology an algorithm runs on, and the caches it must release.
    A :class:`Topology` passes through and stays resident; an edge
    DataFrame gets a temporary one, which the algorithm hands to
    ``finalize`` so it is released with the rest of its intermediates.
    A frame whose topology is already cached, such as the edges of a graph
    with a resident topology, shares that cache entry: releasing it would
    drop the resident one, so it is not returned for release."""
    if isinstance(edges, Topology):
        return edges, ()
    topo = Topology.build(edges, distinct=distinct)
    return topo, () if topo.shared else (topo.adj,)
