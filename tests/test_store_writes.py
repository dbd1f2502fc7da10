"""The graph store under Cypher writes and saves: the declared-schema
read, the Spark jobs a write runs, the crash-safe swap of a table and of
a whole saved graph, and the engine state a write leaves behind."""

import json
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from jasminegraph_spark import engine, graph
from jasminegraph_spark.cypher import write
from jasminegraph_spark.engine import JasmineEngine
from jasminegraph_spark.graph import EDGE_SCHEMA, NODE_SCHEMA, GraphCatalog

JOB_GROUP = "spark.jobGroup.id"


def _wire_graph(path, edges):
    """A JSON-lines property graph of Person nodes joined by KNOWS edges."""
    with open(path, "w") as fh:
        for a, b in edges:
            fh.write(json.dumps({
                "source": {"id": a, "properties": {"label": "Person"}},
                "destination": {"id": b, "properties": {"label": "Person"}},
                "properties": {"type": "KNOWS"},
            }) + "\n")
    return str(path)


def _ring(n=12):
    return [(f"p{i}", f"p{(i + 1) % n}") for i in range(n)]


def _part_files(path):
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def _count_jobs(spark, fn):
    """Run ``fn`` and count its Spark jobs by job group: those of the
    store reload (``GraphCatalog.load``) apart from the rest."""
    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    groups = {"write": f"write-{tag}", "reload": f"reload-{tag}"}
    real_load = GraphCatalog.load

    def load(self, *args, **kwargs):
        sc.setLocalProperty(JOB_GROUP, groups["reload"])
        return real_load(self, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(GraphCatalog, "load", load)
        sc.setLocalProperty(JOB_GROUP, groups["write"])
        try:
            out = fn()
        finally:
            sc.setLocalProperty(JOB_GROUP, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001 - final job events
    return out, {k: len(sc.statusTracker().getJobIdsForGroup(g)) for k, g in groups.items()}


def test_write_job_counts(spark, tmp_path):
    """A plain CREATE runs at most 2 Spark jobs, a MERGE that creates its
    node at most 3, a MATCH … CREATE at most 4 and a SET at most 6; the
    engine's reload after each runs none. A replayed CREATE adds no edge
    and no file."""
    eng = JasmineEngine(spark, storage_path=str(tmp_path / "store"))
    eng.add_json_graph("g", _wire_graph(tmp_path / "g.jsonl", _ring()), is_directed=True)
    create = ("MATCH (a:Person), (b:Person) WHERE id(a) = 'p1' AND id(b) = 'p5' "
              "CREATE (a)-[:KNOWS]->(b)")

    stats, jobs = _count_jobs(spark, lambda: eng.cypher_write("g", create))
    assert stats == {"edges_created": 1}
    assert jobs["write"] <= 4 and jobs["reload"] == 0, jobs

    stats, jobs = _count_jobs(
        spark, lambda: eng.cypher_write("g", "MATCH (n:Person) WHERE id(n) = 'p2' SET n.age = '40'")
    )
    assert stats == {"nodes_set": 1}
    assert jobs["write"] <= 6 and jobs["reload"] == 0, jobs

    edges_dir = str(tmp_path / "store" / "g" / "edges")
    files = _part_files(edges_dir)
    assert eng.cypher_write("g", create) == {"edges_created": 0}
    assert _part_files(edges_dir) == files
    assert eng.edge_count("g") == 13
    (row,) = eng.cypher("g", "MATCH (n:Person) WHERE id(n) = 'p2' RETURN n.age AS age").collect()
    assert row["age"] == "40"

    plain = "CREATE (c:City {id: 'c1'})-[:IN]->(n:Land {id: 'n1'})"
    stats, jobs = _count_jobs(spark, lambda: eng.cypher_write("g", plain))
    assert stats == {"nodes_created": 2, "edges_created": 1}
    assert jobs["write"] <= 2 and jobs["reload"] == 0, jobs

    merge = "MERGE (n:Person {name: 'Eve'})"
    stats, jobs = _count_jobs(spark, lambda: eng.cypher_write("g", merge))
    assert stats == {"nodes_created": 1, "matched": False}
    assert jobs["write"] <= 3 and jobs["reload"] == 0, jobs


def test_set_items_apply_in_order_in_one_rewrite(spark, tmp_path):
    """A SET list over two variables: each item hits its own variable's
    matched nodes, a later item on the same key wins, and nodes_set
    counts the last item's targets."""
    gp = str(tmp_path / "sg")
    write.cypher_write(
        spark, gp,
        "CREATE (a:P {id: 'a', k: '0'})-[:R]->(b:P {id: 'b'}), (c:P {id: 'c'})",
    )
    write.cypher_write(
        spark, gp, "MATCH (c:P), (b:P) WHERE id(c) = 'c' AND id(b) = 'b' CREATE (c)-[:R]->(b)"
    )
    stats = write.cypher_write(
        spark, gp, "MATCH (x:P)-[:R]->(y:P) SET x.k = '1', y:Q, x.k = '2', y.seen = 'yes'"
    )
    assert stats == {"nodes_set": 1}
    rows = {r["id"]: (r["label"], dict(r["properties"]))
            for r in GraphCatalog(spark).load("sg", str(tmp_path)).nodes.collect()}
    assert rows == {
        "a": ("P", {"id": "a", "k": "2"}),
        "b": ("Q", {"id": "b", "seen": "yes"}),
        "c": ("P", {"id": "c", "k": "2"}),
    }


def test_set_on_a_node_without_properties(spark, tmp_path):
    """SET on a node whose properties map is NULL (a GraphML node with no
    props) stores the new key instead of dropping it."""
    (tmp_path / "g.graphml").write_text(
        '<graph edgedefault="directed">\n'
        '<node id="a"><data key="label">P</data></node>\n'
        '<node id="b"><data key="label">P</data></node>\n'
        '<edge source="a" target="b"></edge>\n</graph>\n'
    )
    eng = JasmineEngine(spark, storage_path=str(tmp_path / "store"))
    eng.add_graphml_graph("g", str(tmp_path / "g.graphml"))
    assert eng.cypher_write("g", "MATCH (n:P) WHERE id(n) = 'a' SET n.age = '5'") == {"nodes_set": 1}
    props = {r["id"]: r["properties"] for r in eng.catalog.get("g").nodes.collect()}
    assert props == {"a": {"age": "5"}, "b": None}


class _Crash(Exception):
    pass


def _fail_on_call(real, n):
    calls = []

    def fn(*args, **kwargs):
        calls.append(args)
        if len(calls) == n:
            raise _Crash(f"crash before {real.__name__}{args}")
        return real(*args, **kwargs)

    return fn


@pytest.mark.parametrize(
    "target, n, survivor",
    [
        ("os.rename", 1, "old"),  # new table written beside, nothing swapped
        ("os.rename", 2, "old"),  # old table moved aside, new not yet in place
        ("shutil.rmtree", 1, "new"),  # new table in place, old one not deleted
    ],
)
def test_table_swap_survives_a_crash_at_each_step(spark, tmp_path, target, n, survivor):
    """A SET that crashes at any step of the table swap leaves a store
    that reloads with the old or the new nodes, and no leftovers."""
    gp = str(tmp_path / "cg")
    write.cypher_write(spark, gp, "CREATE (a:P {id: 'a', v: 'old'}), (b:P {id: 'b', v: 'old'})")
    module, attr = target.split(".")
    with pytest.MonkeyPatch.context() as mp:
        real = getattr(getattr(graph, module), attr)
        mp.setattr(getattr(graph, module), attr, _fail_on_call(real, n))
        with pytest.raises(_Crash):
            write.cypher_write(spark, gp, "MATCH (n:P) WHERE id(n) = 'a' SET n.v = 'new'")
    g = GraphCatalog(spark).load("cg", str(tmp_path))
    got = {r["id"]: r["properties"]["v"] for r in g.nodes.collect()}
    assert got == {"a": survivor, "b": "old"}
    assert sorted(d for d in os.listdir(gp) if not d.startswith(".")) == ["nodes"]
    # the healed store takes the next write
    write.cypher_write(spark, gp, "MATCH (n:P) WHERE id(n) = 'b' SET n.v = 'new'")
    g = GraphCatalog(spark).load("cg", str(tmp_path))
    assert {r["id"]: r["properties"]["v"] for r in g.nodes.collect()}["b"] == "new"


# a stored graph and the graph a re-ingest saves over it, as
# (node ids, edge endpoints, is_directed)
OLD = ({"1", "2", "3"}, {("1", "2"), ("2", "3")}, False)
NEW = ({"1", "2", "3", "4", "5"}, {("1", "2"), ("2", "3"), ("3", "4"), ("4", "5")}, True)


def _stored_graph(spark, store):
    g = GraphCatalog(spark).load("g", store)
    return (
        {r["id"] for r in g.nodes.collect()},
        {(r["src"], r["dst"]) for r in g.edges.collect()},
        g.is_directed,
    )


def _swap_leftovers(store):
    return sorted(
        os.path.relpath(os.path.join(root, d), store)
        for root, dirs, _ in os.walk(store)
        for d in dirs
        if d.endswith(("__tmp", "__old"))
    )


def _reingest(spark, tmp_path):
    """Store OLD as graph ``g`` and return the engine, the store and a
    re-ingest of NEW over it."""
    store = str(tmp_path / "store")
    (tmp_path / "old.dl").write_text("1 2\n2 3\n")
    (tmp_path / "new.dl").write_text("1 2\n2 3\n3 4\n4 5\n")
    eng = JasmineEngine(spark, storage_path=store)
    eng.add_graph("g", str(tmp_path / "old.dl"), is_directed=False)
    assert _stored_graph(spark, store) == OLD
    return eng, store, lambda: eng.add_graph("g", str(tmp_path / "new.dl"), is_directed=True)


def test_save_keeps_the_old_graph_when_its_write_job_fails(spark, tmp_path):
    """A re-ingest whose nodes write fails in a task leaves the stored
    graph as it was, not with an emptied nodes table."""
    eng, store, reingest = _reingest(spark, tmp_path)
    real = engine.read_edge_list

    def failing(*args, **kwargs):
        g = real(*args, **kwargs)
        boom = F.raise_error(F.lit("task failure"))
        g.nodes = g.nodes.withColumn(
            "id", F.when(F.col("id") == "5", boom).otherwise(F.col("id"))
        )
        return g

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(engine, "read_edge_list", failing)
        with pytest.raises(Exception, match="task failure"):
            reingest()
    assert _stored_graph(spark, store) == OLD
    assert _swap_leftovers(store) == []


def test_failed_reingest_keeps_serving_the_stored_graph(spark, tmp_path):
    """After a re-ingest whose save fails, the engine answers from the
    graph the store still holds, not from the unsaved new one."""
    eng, store, reingest = _reingest(spark, tmp_path)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", _fail_on_call(DataFrameWriter.parquet, 2))
        with pytest.raises(_Crash):
            reingest()
    assert eng.edge_count("g") == GraphCatalog(spark).load("g", store).edge_count() == 2
    assert eng.catalog.get("g").is_directed is False


def test_save_keeps_the_old_graph_on_a_crash_between_its_tables(spark, tmp_path):
    """A re-ingest that crashes after writing the nodes and before the
    edges leaves the old graph whole, not new nodes with old edges."""
    eng, store, reingest = _reingest(spark, tmp_path)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", _fail_on_call(DataFrameWriter.parquet, 2))
        with pytest.raises(_Crash):
            reingest()
    assert _stored_graph(spark, store) == OLD
    assert _swap_leftovers(store) == []


@pytest.mark.parametrize(
    "target, n, survivor",
    [
        ("os.rename", 1, "old"),  # new graph written beside, nothing swapped
        ("os.rename", 2, "old"),  # old graph moved aside, new not yet in place
        ("shutil.rmtree", 1, "new"),  # new graph in place, old one not deleted
    ],
)
def test_save_survives_a_crash_at_each_swap_step(spark, tmp_path, target, n, survivor):
    """A re-ingest that crashes at any step of the graph directory swap
    leaves a graph that reloads wholly old or wholly new. On copies of
    the crashed store, a ``truncate`` removes and reports only ``g``, and
    the next re-ingest, with no read before it, succeeds."""
    eng, store, reingest = _reingest(spark, tmp_path)
    module, attr = target.split(".")
    with pytest.MonkeyPatch.context() as mp:
        real = getattr(getattr(graph, module), attr)
        mp.setattr(getattr(graph, module), attr, _fail_on_call(real, n))
        with pytest.raises(_Crash):
            reingest()
    truncated, reingested = str(tmp_path / "truncated"), str(tmp_path / "reingested")
    shutil.copytree(store, truncated)
    shutil.copytree(store, reingested)
    assert _stored_graph(spark, store) == {"old": OLD, "new": NEW}[survivor]
    assert _swap_leftovers(store) == []
    assert JasmineEngine(spark, storage_path=truncated).truncate() == ["g"]
    assert [e for e in os.listdir(truncated) if not e.startswith("_")] == []
    JasmineEngine(spark, storage_path=reingested).add_graph(
        "g", str(tmp_path / "new.dl"), is_directed=True
    )
    assert _stored_graph(spark, reingested) == NEW
    assert _swap_leftovers(reingested) == []


def test_write_on_unregistered_graph_keeps_saved_directedness(spark, tmp_path):
    """An engine that has not loaded a stored graph takes its
    directedness from the store's metadata when a write reloads it."""
    store = str(tmp_path / "store")
    (tmp_path / "u.dl").write_text("1 2\n2 3\n")
    JasmineEngine(spark, storage_path=store).add_graph("u", str(tmp_path / "u.dl"), is_directed=False)
    fresh = JasmineEngine(spark, storage_path=store)
    assert "u" not in fresh.catalog.names()
    assert fresh.cypher_write("u", "MATCH (n) WHERE id(n) = '1' SET n.seen = 'y'") == {"nodes_set": 1}
    assert fresh.catalog.get("u").is_directed is False


def test_cypher_write_then_train_model(spark, tmp_path):
    """A Cypher write leaves the session able to fit and score a model."""
    import itertools

    lines = [f"{a} {b}" for a, b in itertools.combinations(range(12), 2)]
    lines += [f"{a} {b}" for a, b in itertools.combinations(range(100, 112), 2)]
    (tmp_path / "cl.dl").write_text("\n".join(lines) + "\n")
    eng = JasmineEngine(spark, storage_path=str(tmp_path / "store"))
    eng.add_graph("cl", str(tmp_path / "cl.dl"), is_directed=True)
    assert eng.cypher_write(
        "cl", "MATCH (a), (b) WHERE id(a) = '0' AND id(b) = '100' CREATE (a)-[:LINK]->(b)"
    ) == {"edges_created": 1}
    assert eng.cypher_write("cl", "MATCH (n) WHERE id(n) = '0' SET n.hub = 'y'") == {"nodes_set": 1}
    model, scored = eng.train_model("cl")
    assert scored.count() > 0


def test_ingest_verbs_save_the_declared_schema(spark, tmp_path):
    """Every ingest verb that saves to the store writes nodes/ and edges/
    with exactly the columns and types of NODE_SCHEMA / EDGE_SCHEMA, the
    schema the store is read with, so that read drops no column."""
    store = tmp_path / "store"
    eng = JasmineEngine(spark, storage_path=str(store))
    (tmp_path / "e.dl").write_text("1 2\n2 3\n3 1\n")
    (tmp_path / "attrs.txt").write_text("1\t0.5 0.1\n2\t0.2 0.9\n")
    (tmp_path / "t.nt").write_text("alice knows bob\nbob likes carol\n")
    eng.add_graph("el", str(tmp_path / "e.dl"))
    eng.add_graph_with_attributes("attr", str(tmp_path / "e.dl"), str(tmp_path / "attrs.txt"))
    eng.add_rdf_graph("rdf", str(tmp_path / "t.nt"))
    eng.add_json_graph("js", _wire_graph(tmp_path / "g.jsonl", _ring(4)))
    eng.export_graph("el", str(tmp_path / "gml"), fmt="graphml")
    eng.add_graphml_graph("gml", str(tmp_path / "gml"))
    for name in ("el", "attr", "rdf", "js", "gml"):
        for table, declared in (("nodes", NODE_SCHEMA), ("edges", EDGE_SCHEMA)):
            saved = spark.read.parquet(str(store / name / table)).schema
            assert saved.simpleString() == declared.simpleString(), (name, table)
        with open(store / name / "_meta.json") as fh:
            assert "schema" not in json.load(fh), name


def test_graph_saved_in_another_shape_keeps_its_columns(spark, tmp_path):
    """``construct_kg``'s edges carry a ``weight`` column outside
    EDGE_SCHEMA: the store records their schema, so a reload keeps it."""
    docs = spark.createDataFrame(
        [(1, "x likes y while y hates z"), (2, "x likes y")], ["doc_id", "text"]
    )
    store = str(tmp_path / "store")
    JasmineEngine(spark, storage_path=store).construct_kg("kg", docs)
    g = GraphCatalog(spark).load("kg", store)
    assert ("x", "likes", "y", 2) in {(r.src, r.type, r.dst, r.weight) for r in g.edges.collect()}
    assert g.nodes.columns == ["id"] and g.nodes.count() == 4
