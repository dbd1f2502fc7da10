"""Independent oracles: DuckDB over the generator's parquet copies, and
numpy/pure Python for the graph algorithms. Nothing here imports the
engine under test, so a bug there cannot hide in its own check."""

from __future__ import annotations

import json
import os
from collections import defaultdict

import duckdb
import numpy as np
import pyarrow.dataset as ds

import gen

# ---------------------------------------------------------------- Cypher --

READ_TEMPLATES = ("seek", "hop1", "hop2", "filter_count", "topk", "group_agg")
WRITE_TEMPLATES = ("create", "set")

CYPHER = {
    "seek": "MATCH (n:Person) WHERE id(n) = '{p}' "
            "RETURN n.name AS name, n.age AS age, n.score AS score",
    "hop1": "MATCH (a:Person)-[:KNOWS]->(b:Person) WHERE id(a) = '{p}' RETURN id(b) AS id",
    "hop2": "MATCH (a:Person)-[:KNOWS]->(b:Person)-[:KNOWS]->(c:Person) "
            "WHERE id(a) = '{p}' RETURN count(DISTINCT id(c)) AS n",
    "filter_count": "MATCH (n:Person) WHERE n.age >= '{lo}' AND n.age < '{hi}' "
                    "RETURN count(*) AS n",
    "topk": "MATCH (n:Person)-[:LIVES_IN]->(c:City) WHERE id(c) = '{c}' "
            "RETURN id(n) AS id, n.score AS score ORDER BY score DESC LIMIT 10",
    "group_agg": "MATCH (n:Person)-[:WORKS_AT]->(c:Company) WHERE c.industry = '{ind}' "
                 "RETURN id(c) AS company, count(*) AS n",
    "create": "MATCH (a:Person), (b:Person) WHERE id(a) = '{a}' AND id(b) = '{b}' "
              "CREATE (a)-[:KNOWS]->(b)",
    "set": "MATCH (n:Person) WHERE id(n) = '{p}' SET n.age = '{age}'",
}

# templates whose rows come back in a defined order
ORDERED = {"topk"}


def cypher_text(template: str, params: dict) -> str:
    return CYPHER[template].format(**params)


class SocialOracle:
    """The social graph's current state in DuckDB. Writes the workload
    issues are applied here too, so every later read is checked against
    a state that includes them (read-your-writes)."""

    def __init__(self, sg: gen.SocialGraph):
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE persons AS SELECT * FROM read_parquet('{sg.persons_parquet}')"
        )
        self.con.execute(
            f"CREATE TABLE knows AS SELECT * FROM read_parquet('{sg.edges_parquet}')"
        )

    def close(self) -> None:
        self.con.close()

    def _rows(self, sql: str, args=()) -> list:
        return [tuple(r) for r in self.con.execute(sql, list(args)).fetchall()]

    def expected(self, template: str, params: dict) -> list:
        if template == "seek":
            return self._rows(
                "SELECT 'name' || idx, CAST(age AS VARCHAR), lpad(CAST(score AS VARCHAR), 7, '0') "
                "FROM persons WHERE idx = ?", [params["i"]])
        if template == "hop1":
            return self._rows("SELECT 'p' || dst FROM knows WHERE src = ?", [params["i"]])
        if template == "hop2":
            return self._rows(
                "SELECT count(DISTINCT k2.dst) FROM knows k1 JOIN knows k2 ON k1.dst = k2.src "
                "WHERE k1.src = ?", [params["i"]])
        if template == "filter_count":
            # ages are two-digit strings in the store, so string order is
            # numeric order and the integer range here is the same filter
            return self._rows(
                "SELECT count(*) FROM persons WHERE age >= ? AND age < ?",
                [int(params["lo"]), int(params["hi"])])
        if template == "topk":
            return self._rows(
                "SELECT 'p' || idx, lpad(CAST(score AS VARCHAR), 7, '0') FROM persons "
                "WHERE city = ? ORDER BY score DESC LIMIT 10", [params["city"]])
        if template == "group_agg":
            return self._rows(
                "SELECT 'co' || company, count(*) FROM persons WHERE company % ? = ? "
                "GROUP BY company", [gen.N_INDUSTRIES, params["industry"]])
        if template == "create":
            return [{"edges_created": 1}]
        if template == "set":
            return [{"nodes_set": 1}]
        raise ValueError(f"unknown template {template!r}")

    def apply(self, template: str, params: dict) -> None:
        if template == "create":
            self.con.execute("INSERT INTO knows VALUES (?, ?)", [params["ai"], params["bi"]])
        elif template == "set":
            self.con.execute("UPDATE persons SET age = ? WHERE idx = ?",
                             [int(params["age"]), params["i"]])


def same_rows(template: str, got: list, want: list) -> bool:
    if template in ORDERED:
        return got == want
    return sorted(got) == sorted(want)


# ------------------------------------------------------------- analytics --

def simple_undirected(edges: np.ndarray) -> np.ndarray:
    """Distinct (lo, hi) pairs without self-loops."""
    return gen.undirected_simple(edges[edges[:, 0] != edges[:, 1]])


def adjacency(und: np.ndarray) -> dict:
    adj = defaultdict(set)
    for a, b in und.tolist():
        adj[a].add(b)
        adj[b].add(a)
    return adj


def triangle_count(edges: np.ndarray) -> int:
    """Exact count: orient each edge from lower to higher (degree, id)
    rank and intersect out-neighbour sets."""
    und = simple_undirected(edges)
    adj = adjacency(und)
    rank = {v: (len(nb), v) for v, nb in adj.items()}
    out = {v: {u for u in nb if rank[u] > rank[v]} for v, nb in adj.items()}
    # a triangle x < y < z (by rank) is found once, on edge (x, y)
    return sum(len(out[a] & out[b]) for a, b in und.tolist())


def degree_histogram(dst: np.ndarray) -> dict:
    """``idegree``: in-degree per vertex as the edges are written, then
    how many vertices have each degree."""
    _, per_node = np.unique(dst, return_counts=True)
    deg, n = np.unique(per_node, return_counts=True)
    return dict(zip(deg.tolist(), n.tolist()))


def pagerank(edges: np.ndarray, alpha: float = 0.85, iterations: int = 10) -> dict:
    """Undirected PageRank with uniform restart and no dangling mass: the
    symmetrized distinct edge set gives every vertex an out-edge."""
    und = simple_undirected(edges)
    src = np.concatenate([und[:, 0], und[:, 1]])
    dst = np.concatenate([und[:, 1], und[:, 0]])
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src):]
    n = len(nodes)
    out_deg = np.bincount(s, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        rank = (1 - alpha) / n + alpha * np.bincount(d, weights=rank[s] / out_deg[s], minlength=n)
    return {str(v): r for v, r in zip(nodes.tolist(), rank.tolist())}


def components(edges: np.ndarray) -> dict:
    """Weakly connected components by union-find; each vertex maps to the
    smallest member id of its component, compared as strings (the ids the
    engine stores)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges.tolist():
        a, b = str(a), str(b)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def egonet(adj: dict, vertex: int) -> set:
    """Edges of the subgraph induced on ``vertex`` and its neighbours in
    the undirected adjacency ``adj``, each as a frozenset of two string
    ids."""
    keep = adj.get(vertex, set()) | {vertex}
    return {frozenset((str(a), str(b))) for a in keep for b in adj.get(a, ()) if b in keep}


# -------------------------------------------------------------- streaming --

def source_batches(checkpoint_dir: str) -> dict:
    """Which input files each micro-batch read, from the file source's
    log in the stream checkpoint (one JSON entry per file, in numbered and
    ``.compact`` log files). Returns ``{batch_id: {file name, ...}}``."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    out: dict = {}
    for name in os.listdir(log_dir):
        if not name.split(".")[0].isdigit() or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out.setdefault(entry["batchId"], set()).add(os.path.basename(entry["path"]))
    return out


def stored_batches(edges_dir: str) -> dict:
    """The ``(src, dst)`` pairs in each ``batch_id`` partition of a
    streamed store, read with pyarrow rather than Spark."""
    if not os.path.isdir(edges_dir):
        return {}
    table = ds.dataset(edges_dir, format="parquet", partitioning="hive").to_table(
        columns=["src", "dst", "batch_id"])
    out: dict = {}
    for src, dst, b in zip(*(table.column(c).to_pylist() for c in ("src", "dst", "batch_id"))):
        out.setdefault(b, set()).add((src, dst))
    return out
