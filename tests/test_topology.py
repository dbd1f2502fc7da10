"""The resident topology: one symmetrized, degree-annotated adjacency per
graph snapshot, shared by trian, pgrnk, wcc and egonet.

Checks its contents, that engine verbs over it answer exactly what the
plain ``an.*`` calls answer on the raw edge frame (and what an
independent pure-Python reference answers), that it follows the
catalog's snapshots (writes, replacement, removal, truncate,
clearCache), that its rounds need no adjacency exchange, how many
Spark jobs building it, labelling its components and ranking its
vertices take, and that a ``CALL algo.*`` procedure leaves it resident."""

import time
import uuid
from collections import defaultdict

import numpy as np
import pandas as pd
import pytest

from jasminegraph_spark import analytics as an
from jasminegraph_spark import cache, topology
from jasminegraph_spark.analytics import components, graph_algs
from jasminegraph_spark.engine import JasmineEngine
from jasminegraph_spark.topology import Topology

# a triangle written with a duplicate and both orientations of one edge,
# self-loops on triangle and non-triangle vertices, a second triangle
# sharing vertex 3, a pair with a self-loop, and a self-loop-only vertex
AWKWARD = [
    ("1", "2"), ("2", "3"), ("3", "1"), ("1", "2"), ("2", "1"), ("3", "3"),
    ("4", "4"), ("3", "4"), ("4", "5"), ("5", "3"), ("6", "7"), ("7", "7"),
    ("8", "8"),
]


def _sym(edges):
    """Distinct symmetric (u, v) pairs; a self-loop appears once."""
    return {(a, b) for a, b in edges} | {(b, a) for a, b in edges}


def _simple_adj(edges):
    adj = defaultdict(set)
    for a, b in _sym(edges):
        if a != b:
            adj[a].add(b)
    return adj


def ref_triangles(edges):
    adj = _simple_adj(edges)
    return sum(len(adj[a] & adj[b]) for a in adj for b in adj[a] if a < b) // 3


def ref_components(edges):
    """Vertex → smallest id of its component; self-loops ignored."""
    adj, comp = _simple_adj(edges), {}
    for start in sorted(adj):
        if start in comp:
            continue
        seen, todo = {start}, [start]
        while todo:
            for w in adj[todo.pop()] - seen:
                seen.add(w)
                todo.append(w)
        comp.update({v: min(seen) for v in seen})
    return comp


def ref_egonet(edges, vertex):
    adj = _simple_adj(edges)
    keep = adj[vertex] | {vertex} if adj[vertex] else set()
    return {(a, b) for a in keep for b in adj[a] if b in keep and a < b}


def ref_pagerank(pairs, alpha=0.85, iterations=10, sources=None):
    """Power iteration over the distinct directed ``pairs``, every vertex
    of which has an out-edge here (no dangling mass). The undirected
    pgrnk iterates the symmetric set, self-loops included once."""
    nodes = sorted({x for p in pairs for x in p})
    out = defaultdict(int)
    for a, _ in pairs:
        out[a] += 1
    p = ({v: (1.0 / len(sources) if v in sources else 0.0) for v in nodes}
         if sources else {v: 1.0 / len(nodes) for v in nodes})
    rank = dict(p)
    for _ in range(iterations):
        mass = defaultdict(float)
        for a, b in pairs:
            mass[b] += rank[a] / out[a]
        rank = {v: (1 - alpha) * p[v] + alpha * mass[v] for v in nodes}
    return rank


def _ranks(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def _close(got, want):
    return got.keys() == want.keys() and all(abs(got[k] - want[k]) < 1e-9 for k in want)


@pytest.fixture(scope="module")
def awkward_engine(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("awk")
    (d / "g.dl").write_text("".join(f"{a} {b}\n" for a, b in AWKWARD))
    eng = JasmineEngine(spark)
    eng.add_graph("awk", str(d / "g.dl"))
    eng.add_graph("awkd", str(d / "g.dl"), is_directed=True)
    return eng


def test_topology_rows_are_symmetric_distinct_with_degrees(spark):
    topo = Topology.build(spark.createDataFrame(AWKWARD, ["src", "dst"]))
    try:
        rows = topo.adj.collect()
        pairs = _sym(AWKWARD)
        assert sorted((r["u"], r["v"]) for r in rows) == sorted(pairs)
        deg = defaultdict(int)
        for a, _ in pairs:
            deg[a] += 1
        assert all(r["deg_u"] == deg[r["u"]] and r["deg_v"] == deg[r["v"]] for r in rows)
        assert topo.n_vertices == 8
    finally:
        topo.release()
    assert not topo.live


def test_engine_verbs_on_resident_topology_match_raw_edge_calls(awkward_engine):
    eng = awkward_engine
    raw = eng.catalog.get("awk").edges
    assert eng.triangle_count("awk") == an.triangle_count(raw) == ref_triangles(AWKWARD) == 2

    want_cc = ref_components(AWKWARD)
    assert "8" not in want_cc  # a self-loop-only vertex has no component row
    for cc in (eng.connected_components("awk"), an.connected_components(raw)):
        assert {r["node"]: r["component"] for r in cc.collect()} == want_cc

    for v in ("1", "3", "7", "8", "9"):
        want = ref_egonet(AWKWARD, v)
        for ego in (eng.egonet("awk", v), an.egonet(raw, v)):
            assert {tuple(r) for r in ego.collect()} == want, v

    sym = _sym(AWKWARD)
    want_pr = ref_pagerank(sym)
    assert _close(_ranks(eng.pagerank("awk")), want_pr)
    assert _close(_ranks(an.pagerank(raw, undirected=True)), want_pr)
    want_ppr = ref_pagerank(sym, iterations=5, sources={"1"})
    assert _close(_ranks(eng.personalized_pagerank("awk", ["1"], iterations=5)), want_ppr)
    assert _close(_ranks(an.personalized_pagerank(raw, ["1"], iterations=5, undirected=True)),
                  want_ppr)
    # the shuffled-rank regime reads the same topology
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(topology, "DRIVER_PAIRS", 0)  # pgrnk's rounds, not its driver path
        assert _close(_ranks(an.pagerank(eng.catalog.topology("awk"), iterations=3,
                                         broadcast_threshold=0)),
                      ref_pagerank(sym, iterations=3))


def test_directed_pagerank_keeps_directed_semantics(awkward_engine):
    """A directed graph's pgrnk reads its raw edges: rank flows along
    edge direction only."""
    got = _ranks(awkward_engine.pagerank("awkd", iterations=4))
    assert _close(got, ref_pagerank(set(AWKWARD), iterations=4))
    assert not _close(got, ref_pagerank(_sym(AWKWARD), iterations=4))


def test_analytics_read_their_writes(spark, tmp_path):
    """A CREATE that closes a triangle, one that joins two components and
    one that adds a vertex show in trian, wcc, egonet and pgrnk, although
    the topology was built (and is resident) before the writes. Spark
    re-caches a cached plan over a path it appends to, so only the vertex
    count would stay stale without the release, and pgrnk's restart term
    reads it."""
    edges = [("1", "2"), ("2", "3"), ("4", "5")]
    (tmp_path / "g.dl").write_text("".join(f"{a} {b}\n" for a, b in edges))
    eng = JasmineEngine(spark, storage_path=str(tmp_path / "store"))
    eng.add_graph("rw", str(tmp_path / "g.dl"))
    assert eng.triangle_count("rw") == 0
    before = eng.catalog.topology("rw")
    assert {r["component"] for r in eng.connected_components("rw").collect()} == {"1", "4"}
    assert {tuple(r) for r in eng.egonet("rw", "3").collect()} == {("2", "3")}

    eng.cypher_write("rw", "CREATE (n:N {id: '6'})")
    for a, b in (("1", "3"), ("3", "4"), ("5", "6")):
        stats = eng.cypher_write(
            "rw", f"MATCH (a), (b) WHERE id(a) = '{a}' AND id(b) = '{b}' CREATE (a)-[:E]->(b)"
        )
        assert stats["edges_created"] == 1
        edges.append((a, b))
    assert not before.live  # the reload released the old snapshot's topology

    assert eng.triangle_count("rw") == ref_triangles(edges) == 1
    cc = {r["node"]: r["component"] for r in eng.connected_components("rw").collect()}
    assert cc == ref_components(edges) and set(cc.values()) == {"1"}
    ego = {tuple(r) for r in eng.egonet("rw", "3").collect()}
    assert ego == ref_egonet(edges, "3") == {("1", "2"), ("1", "3"), ("2", "3"), ("3", "4")}
    assert _close(_ranks(eng.pagerank("rw")), ref_pagerank(_sym(edges)))


def test_topology_released_with_its_snapshot_and_rearmed_after_clear_cache(spark, tmp_path):
    p = tmp_path / "g.dl"
    p.write_text("1 2\n2 3\n3 1\n")
    eng = JasmineEngine(spark)
    eng.add_graph("a", str(p))
    eng.add_graph("b", str(p))

    first = eng.catalog.topology("a")
    assert eng.catalog.topology("a") is first  # resident: built once
    eng.add_graph("a", str(p))  # re-registering the name replaces the snapshot
    assert not first.live

    second = eng.catalog.topology("a")
    spark.catalog.clearCache()
    assert not second.live
    rebuilt = eng.catalog.topology("a")
    assert rebuilt is not second and rebuilt.live
    assert eng.triangle_count("a") == 1

    eng.remove_graph("a")
    assert not rebuilt.live
    last = eng.catalog.topology("b")
    assert eng.truncate() == ["b"]
    assert not last.live


def _hash_exchanges(plan) -> list:
    """Hash exchanges in a physical plan, leaving out the plans of the
    cached relations it scans (an InMemoryTableScan is a leaf). Adaptive
    plans and their query stages are opened, so it reads a plan before or
    after execution alike."""
    found, todo = [], [plan]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        text = node.simpleString(25)
        if text.startswith("Exchange hashpartitioning"):
            found.append(text)
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return found


def test_iterations_over_resident_topology_need_no_adjacency_exchange(
    awkward_engine, monkeypatch
):
    """Broadcast regime, past a driver bound of 0 pairs: one pgrnk
    iteration and one wcc round read the topology in place — its u-partitioning serves their aggregation, so
    neither plans a hash exchange."""
    topo = awkward_engine.catalog.topology("awk")
    plans = []

    def spy(real):
        def wrapped(df, *args, **kw):
            plans.append(df._jdf.queryExecution().executedPlan())
            return real(df, *args, **kw)

        return wrapped

    monkeypatch.setattr(topology, "DRIVER_PAIRS", 0)  # the rounds, not the driver paths
    monkeypatch.setattr(graph_algs, "finalize", spy(graph_algs.finalize))
    an.pagerank(topo, iterations=1, undirected=True)
    monkeypatch.setattr(components, "checkpoint", spy(components.checkpoint))
    an.connected_components(topo, max_iterations=1)
    assert len(plans) == 2
    for plan in plans:
        assert "InMemoryTableScan" in plan.toString()
        assert _hash_exchanges(plan) == []
    # the check does see an exchange where there is one: an aggregation
    # on u over the adjacency partitioned by v
    by_v = topo.adj.repartition("v")
    assert _hash_exchanges(by_v.groupBy("u").count()._jdf.queryExecution().executedPlan())


def _count_jobs(spark, fn):
    """Run ``fn`` under a job group of its own and count that group's jobs."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex[:8]}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001 - final job events
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_topology_build_and_wcc_job_counts(spark, monkeypatch):
    """Building a topology runs 5 Spark jobs and counts its adjacency
    rows in them. wcc over a resident topology runs 1 job, its label
    frame's collect none, and it checkpoints nothing."""
    edges = spark.createDataFrame(AWKWARD, ["src", "dst"])
    topo, jobs = _count_jobs(spark, lambda: Topology.build(edges))
    try:
        assert jobs == 5
        assert (topo.n_vertices, topo.n_rows) == (8, len(_sym(AWKWARD)))
        checkpoints, real = [], cache.checkpoint

        def counted(df, *args, **kw):
            checkpoints.append(df)
            return real(df, *args, **kw)

        monkeypatch.setattr(cache, "checkpoint", counted)
        monkeypatch.setattr(components, "checkpoint", counted)
        cc, jobs = _count_jobs(spark, lambda: an.connected_components(topo))
        assert jobs == 1
        rows, jobs = _count_jobs(spark, cc.collect)
        assert jobs == 0 and checkpoints == []
        assert {r["node"]: r["component"] for r in rows} == ref_components(AWKWARD)
    finally:
        topo.release()


def test_pgrnk_job_counts(spark, monkeypatch):
    """pgrnk over a resident topology runs 1 Spark job, its one collect,
    and checkpoints nothing; its rank frame's collect runs none.
    Personalized pgrnk matches its seeds without a job of its own."""
    topo = Topology.build(spark.createDataFrame(AWKWARD, ["src", "dst"]))
    try:
        checkpoints, real = [], cache.checkpoint

        def counted(df, *args, **kw):
            checkpoints.append(df)
            return real(df, *args, **kw)

        monkeypatch.setattr(cache, "checkpoint", counted)
        monkeypatch.setattr(graph_algs, "checkpoint", counted)
        sym = _sym(AWKWARD)
        for sources in (None, ["1", "9"]):
            pr, jobs = _count_jobs(spark, lambda: an.pagerank(topo, sources=sources))
            assert jobs == 1, sources
            rows, jobs = _count_jobs(spark, pr.collect)
            assert jobs == 0 and checkpoints == []
            assert _close({r["node"]: r["rank"] for r in rows}, ref_pagerank(sym, sources=sources))
    finally:
        topo.release()


@pytest.mark.parametrize(
    "id_type, rows, seeds, seeded",
    [
        ("long", [(1, 2), (3, 4), (2, 3)], [["01"], [2, "3"], [5]], [{1}, {2, 3}, set()]),
        ("string", [("1", "2"), ("01", "3"), ("2", "3")], [[1], ["01"], [2, "3"]],
         [{"1", "01"}, {"01"}, {"2", "3"}]),
    ],
)
def test_personalized_seeds_match_as_spark_isin_does(spark, monkeypatch, id_type, rows,
                                                     seeds, seeded):
    """Seeds of another type than the ids match on the driver path as
    Spark's ``isin`` matches them in the rounds: under ANSI the string
    ``"01"`` is the long 1, and the long 1 matches both ``"1"`` and
    ``"01"``. Zero iterations return the restart vector itself."""
    topo = Topology.build(spark.createDataFrame(rows, f"src {id_type}, dst {id_type}"))
    try:
        for s, want in zip(seeds, seeded):
            restart = _ranks(an.personalized_pagerank(topo, s, iterations=0))
            assert {k for k, r in restart.items() if r > 0} == want, s
            driver = _ranks(an.personalized_pagerank(topo, s, iterations=2))
            with monkeypatch.context() as mp:
                mp.setattr(topology, "DRIVER_PAIRS", 0)
                assert _close(driver, _ranks(an.personalized_pagerank(topo, s, iterations=2))), s
    finally:
        topo.release()


def test_call_procedures_keep_the_resident_topology(spark, tmp_path):
    """A ``CALL algo.*`` procedure hands the graph's edge frame to its
    analytic, whose temporary topology has the same plan as the resident
    one and so shares its cache entry. Finishing the call leaves that
    entry alone: the next engine verb reads the resident topology in one
    job instead of rebuilding it."""
    (tmp_path / "g.dl").write_text("".join(f"{a} {b}\n" for a, b in AWKWARD))
    eng = JasmineEngine(spark)
    eng.add_graph("g", str(tmp_path / "g.dl"))
    eng.pagerank("g")
    resident = eng.catalog.topology("g")
    for query in (
        "CALL algo.pagerank(0.85, 2) YIELD node, rank RETURN node, rank",
        "CALL algo.components() YIELD node, component RETURN node, component",
        "CALL algo.egonet('3') YIELD a, b RETURN a, b",
    ):
        eng.cypher("g", query).collect()
        assert resident.live, query
        _, jobs = _count_jobs(spark, lambda: eng.pagerank("g"))
        assert jobs == 1, query
    assert eng.catalog.topology("g") is resident


def test_wcc_labels_a_long_shuffled_path_on_the_driver(spark):
    """A 100,000-vertex path with shuffled ids gets exact labels on the
    driver path, warm in under 2 s: its passes do not grow with the
    diameter, as hash-min rounds would."""
    n = 100_000
    order = np.random.default_rng(7).permutation(n)
    edges = spark.createDataFrame(
        pd.DataFrame({"src": order[:-1] + 1, "dst": order[1:] + 1}).astype("int64")
    )
    topo = Topology.build(edges)
    try:
        assert topo.on_driver
        an.connected_components(topo).toArrow()  # warm
        t0 = time.perf_counter()
        labels = an.connected_components(topo).toArrow()
        took = time.perf_counter() - t0
        assert labels.num_rows == n
        assert sorted(labels["node"].to_pylist()) == list(range(1, n + 1))
        assert set(labels["component"].to_pylist()) == {1}
        assert took < 2.0, took
    finally:
        topo.release()
