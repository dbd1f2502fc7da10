"""Cypher frontend tests on an F1-style social property graph.

Mirrors the reference's golden-Cypher integration strategy
(tests/integration/integration_workflow_cypher.py semantics): 20 nodes
(Person/Location), 60 edges, string-typed properties, undirected graph;
assertions include the golden global avg over integer ids (= 4.5 for ids
0-9), missing-property nulls, 2-hop expansion with edge uniqueness.
The fixture is generated here, not copied from the reference.
"""

import pytest
from pyspark.sql import functions as F

from jasminegraph_spark.cypher import cypher_query, parse
from jasminegraph_spark.graph import EDGE_SCHEMA, NODE_SCHEMA, PropertyGraph

PEOPLE = ["Alice", "Bob", "Carol", "Dave", "Eva", "Frank", "Grace", "Hugo", "Ivy", "Jack"]
PLACES = ["Park", "Bank", "Cafe", "Gym", "Library", "Museum", "School", "Shop", "Station", "Zoo"]


@pytest.fixture(scope="module")
def social(spark):
    nodes = []
    for i in range(10):
        props = {"name": PEOPLE[i], "occupation": "Teacher" if i % 2 == 0 else "Artist"}
        if i == 3:
            props["age"] = "25"  # sparse property → missing elsewhere
        nodes.append((str(i), "Person", props))
    for i in range(10, 20):
        nodes.append((str(i), "Location", {"name": PLACES[i - 10], "category": "Public"}))
    edges = []
    eid = 0
    for i in range(10):  # Person i FRIENDS Person (i+1)%10
        edges.append((str(eid), str(i), str((i + 1) % 10), "FRIENDS", {"weight": str(i)}))
        eid += 1
    for i in range(10):  # Person i VISITS Location 10+i
        edges.append((str(eid), str(i), str(10 + i), "VISITS", {}))
        eid += 1
    for i in range(10):  # Person i WORKS_AT Location 10+(i+5)%10
        edges.append((str(eid), str(i), str(10 + (i + 5) % 10), "WORKS_AT", {}))
        eid += 1
    g = PropertyGraph(
        nodes=spark.createDataFrame(nodes, NODE_SCHEMA),
        edges=spark.createDataFrame(edges, EDGE_SCHEMA),
        is_directed=False,  # reference social graph traverses undirected
        name="social",
    )
    g.nodes.cache().count()
    g.edges.cache().count()
    return g


def rows(df):
    return [r.asDict() for r in df.collect()]


def test_all_node_scan_count(social):
    assert cypher_query(social, "MATCH (n) RETURN id(n) AS id").count() == 20


def test_label_scan(social):
    out = rows(cypher_query(social, "MATCH (n:Person) RETURN n.name AS name"))
    assert sorted(r["name"] for r in out) == sorted(PEOPLE)


def test_point_seek_and_projection(social):
    out = rows(cypher_query(social, "MATCH (n) WHERE id(n) = '3' RETURN n.name AS name, n.age AS age"))
    assert out == [{"name": "Dave", "age": "25"}]


def test_missing_property_null(social):
    out = rows(cypher_query(social, "MATCH (n) WHERE id(n) = '2' RETURN n.name AS name, n.age AS age"))
    assert out == [{"name": "Carol", "age": None}]


def test_property_map_inline_filter(social):
    out = rows(cypher_query(social, "MATCH (n:Person {name: 'Eva'}) RETURN id(n) AS id"))
    assert out == [{"id": "4"}]


def test_integer_coerced_compare(social):
    # weight stored as string; numeric literal drives the coercion. The
    # graph is undirected, so `->` still traverses both orientations
    # (reference is_directed semantics, OperatorExecutor.cpp:490-494):
    # edges 8→9 (w=8) and 9→0 (w=9) each bind a to both endpoints.
    out = cypher_query(social, "MATCH (a)-[r:FRIENDS]->(b) WHERE r.weight >= 8 RETURN id(a) AS id")
    assert sorted(r["id"] for r in out.collect()) == ["0", "8", "9", "9"]


def test_golden_avg_over_ids(social):
    # reference golden: avg over integer node ids 0..9 = 4.5
    out = rows(
        cypher_query(social, "MATCH (n:Person) RETURN avg(id(n)) AS a")
    )
    assert out == [{"a": 4.5}]


def test_two_hop_expand_edge_uniqueness(social):
    # friend-of-friend on the undirected ring: 2 hops away, excludes
    # walking the same edge back (edge uniqueness), so each person sees
    # exactly the two nodes at distance 2 (i±2) — not themselves
    out = cypher_query(
        social,
        "MATCH (a:Person {name:'Alice'})-[r1:FRIENDS]-(b)-[r2:FRIENDS]-(c) RETURN id(c) AS id",
    )
    got = sorted(r["id"] for r in out.collect())
    assert got == ["2", "8"]


def test_order_by_limit_skip(social):
    out = rows(
        cypher_query(
            social,
            "MATCH (n:Location) RETURN n.name AS name ORDER BY name ASC SKIP 2 LIMIT 3",
        )
    )
    assert [r["name"] for r in out] == sorted(PLACES)[2:5]


def test_distinct(social):
    out = rows(cypher_query(social, "MATCH (n:Person) RETURN DISTINCT n.occupation AS occ"))
    assert sorted(r["occ"] for r in out) == ["Artist", "Teacher"]


def test_count_group_by(social):
    out = rows(
        cypher_query(social, "MATCH (n:Person) RETURN n.occupation AS occ, count(*) AS c")
    )
    assert sorted((r["occ"], r["c"]) for r in out) == [("Artist", 5), ("Teacher", 5)]


def test_string_predicates(social):
    out = rows(
        cypher_query(
            social,
            "MATCH (n) WHERE n.name STARTS WITH 'S' AND n.name CONTAINS 'o' RETURN n.name AS name",
        )
    )
    assert sorted(r["name"] for r in out) == ["School", "Shop", "Station"]


def test_in_predicate(social):
    out = cypher_query(
        social, "MATCH (n) WHERE n.name IN ['Alice', 'Park', 'Nope'] RETURN id(n) AS id"
    )
    assert sorted(r["id"] for r in out.collect()) == ["0", "10"]


def test_directed_vs_undirected_rel_scan(social):
    # undirected graph: -[]- yields both orientations of each edge
    both = cypher_query(social, "MATCH (a)-[r:VISITS]-(b) RETURN id(a) AS a, id(b) AS b")
    assert both.count() == 20  # 10 edges x 2 orientations


def test_cartesian_two_patterns(social):
    out = cypher_query(
        social, "MATCH (a:Person {name:'Alice'}), (b:Location) RETURN id(a) AS a, id(b) AS b"
    )
    assert out.count() == 10


def test_null_checks(social):
    out = cypher_query(social, "MATCH (n:Person) WHERE n.age IS NOT NULL RETURN id(n) AS id")
    assert [r["id"] for r in out.collect()] == ["3"]


def test_xor_not(social):
    out = cypher_query(
        social,
        "MATCH (n:Person) WHERE NOT (n.occupation = 'Artist' XOR n.name = 'Alice') RETURN id(n) AS id",
    )
    # XOR false when both or neither: Alice (Teacher+Alice→T^T... Alice is
    # Teacher (id 0 even) so (Artist=false) XOR (Alice=true) = true → NOT → excluded.
    # Kept: Teachers not named Alice (both false) — ids 2,4,6,8
    assert sorted(r["id"] for r in out.collect()) == ["2", "4", "6", "8"]


def test_parser_errors():
    with pytest.raises(ValueError):
        parse("MATCH (n RETURN n")
    with pytest.raises(ValueError):
        parse("FROB (n) RETURN n")


def test_create_and_roundtrip(spark, tmp_path):
    from jasminegraph_spark.cypher import cypher_create
    from jasminegraph_spark.graph import GraphCatalog, PropertyGraph, append

    nodes, edges = cypher_create(
        spark,
        "CREATE (a:Person {id: 'p1', name: 'Ann'})-[:KNOWS {since: '2019'}]->"
        "(b:Person {id: 'p2', name: 'Ben'}), (c:City {name: 'Oslo'})",
    )
    assert nodes.count() == 3 and edges.count() == 1
    append(nodes, str(tmp_path / "g" / "nodes"))
    append(edges, str(tmp_path / "g" / "edges"))
    # append a second CREATE — Create is an append, like the reference's
    # block-store append path
    n2, e2 = cypher_create(spark, "CREATE (d:Person {id: 'p3', name: 'Cy'})")
    append(n2, str(tmp_path / "g" / "nodes"))
    g = GraphCatalog(spark).load("g", str(tmp_path), is_directed=True)
    assert g.vertex_count() == 4 and g.edge_count() == 1
    out = cypher_query(g, "MATCH (a)-[r:KNOWS]->(b) RETURN a.name AS an, b.name AS bn")
    assert [r.asDict() for r in out.collect()] == [{"an": "Ann", "bn": "Ben"}]
    # anonymous node got a deterministic id
    anon = cypher_query(g, "MATCH (c:City) RETURN id(c) AS id").collect()
    n3, _ = cypher_create(spark, "CREATE (c:City {name: 'Oslo'})")
    assert anon[0]["id"] == n3.collect()[0]["id"]


def test_sinks_roundtrip(spark, tmp_path):
    from jasminegraph_spark.cypher import cypher_create
    from jasminegraph_spark.graph import PropertyGraph
    from jasminegraph_spark.sources import read_property_graph_jsonl
    from jasminegraph_spark.sources.sinks import export_wire_jsonl, to_json_rows

    nodes, edges = cypher_create(
        spark,
        "CREATE (a:Person {id: 'x', name: 'X'})-[:LIKES]->(b:Person {id: 'y', name: 'Y'})",
    )
    g = PropertyGraph(nodes=nodes, edges=edges, name="rt")
    export_wire_jsonl(g, str(tmp_path / "wire"))
    g2 = read_property_graph_jsonl(spark, str(tmp_path / "wire"))
    assert g2.vertex_count() == 2 and g2.edge_count() == 1
    assert {r["type"] for r in g2.edges.collect()} == {"LIKES"}
    rows = list(to_json_rows(g2.edges.select("src", "dst", "type")))
    assert len(rows) == 1 and '"type":"LIKES"' in rows[0]


def test_with_chaining_aggregate(social):
    # degree per person via WITH aggregation, then filter on the aggregate
    out = rows(
        cypher_query(
            social,
            "MATCH (a:Person)-[r:FRIENDS]-(b) "
            "WITH a.name AS name, count(*) AS deg "
            "WHERE deg >= 2 RETURN name, deg ORDER BY name ASC",
        )
    )
    # undirected ring: every person has exactly 2 FRIENDS edges
    assert len(out) == 10 and all(r["deg"] == 2 for r in out)
    assert out[0]["name"] == "Alice"


def test_with_carries_struct_vars(social):
    out = rows(
        cypher_query(
            social,
            "MATCH (a:Person {name: 'Alice'}) WITH a "
            "MATCH (a)-[r:VISITS]->(loc) RETURN loc.name AS place",
        )
    )
    assert [r["place"] for r in out] == ["Park"]


def test_with_order_limit(social):
    out = rows(
        cypher_query(
            social,
            "MATCH (n:Person) WITH n.name AS name ORDER BY name DESC LIMIT 3 "
            "RETURN name ORDER BY name ASC",
        )
    )
    assert [r["name"] for r in out] == ["Hugo", "Ivy", "Jack"]


def test_optional_match(social):
    # only Dave has age; everyone must appear, others null-extended.
    # anchor each person, optionally walk to a friend with an age property
    out = rows(
        cypher_query(
            social,
            "MATCH (n:Person) OPTIONAL MATCH (n)-[r:FRIENDS]->(m) "
            "WHERE m.age IS NOT NULL "
            "RETURN n.name AS name, m.name AS aged_friend",
        )
    )
    by_name = {}
    for r in out:
        by_name.setdefault(r["name"], set()).add(r["aged_friend"])
    assert len(by_name) == 10  # every person preserved
    # Dave (id 3) is reachable from Carol (2) and Eva (4) on the ring
    assert by_name["Carol"] == {"Dave"} and by_name["Eva"] == {"Dave"}
    assert by_name["Alice"] == {None}


def test_unwind_literal(social):
    out = rows(
        cypher_query(
            social,
            "UNWIND [1, 2, 3] AS x MATCH (n:Person {name: 'Alice'}) "
            "RETURN x, n.name AS name ORDER BY x ASC",
        )
    )
    assert [(r["x"], r["name"]) for r in out] == [(1, "Alice"), (2, "Alice"), (3, "Alice")]


def test_labels_function(social):
    out = rows(
        cypher_query(
            social,
            "MATCH (n) WHERE n.name = 'Alice' OR n.name = 'Park' "
            "RETURN labels(n) AS lbl, n.name AS name ORDER BY name ASC",
        )
    )
    assert out == [{"lbl": "Person", "name": "Alice"}, {"lbl": "Location", "name": "Park"}]


def test_write_clauses_set_delete_merge(spark, tmp_path):
    from jasminegraph_spark.cypher.compiler import create_rows
    from jasminegraph_spark.cypher.write import cypher_write
    from jasminegraph_spark.graph import GraphCatalog

    gp = str(tmp_path / "wg")
    stats = cypher_write(
        spark,
        gp,
        "CREATE (a:Person {id: 'p1', name: 'Ann'})-[:KNOWS]->(b:Person {id: 'p2', name: 'Ben'}),"
        " (c:Person {id: 'p3', name: 'Cam'})",
    )
    assert stats == {"nodes_created": 3, "edges_created": 1}
    # the counts come from the rows CREATE built; one without edges
    # appends no edge rows
    stats = cypher_write(spark, gp, "CREATE (d:Person {id: 'p4', name: 'Dot'})")
    assert stats == {"nodes_created": 1, "edges_created": 0}
    g = GraphCatalog(spark).load("wg", str(tmp_path), is_directed=True)
    assert g.vertex_count() == 4 and g.edge_count() == 1

    # SET updates only matched nodes, overwriting existing keys
    stats = cypher_write(spark, gp, "MATCH (n:Person) WHERE n.name = 'Ann' SET n.age = 31")
    assert stats["nodes_set"] == 1
    g = GraphCatalog(spark).load("wg", str(tmp_path), is_directed=True)
    props = {r["id"]: r["properties"] for r in g.nodes.collect()}
    assert props["p1"]["age"] == "31" and "age" not in props["p2"]
    cypher_write(spark, gp, "MATCH (n:Person {id: 'p1'}) SET n.age = 32")
    g = GraphCatalog(spark).load("wg", str(tmp_path), is_directed=True)
    assert {r["id"]: r["properties"] for r in g.nodes.collect()}["p1"]["age"] == "32"

    # MERGE: match → no-op; miss → create
    assert cypher_write(spark, gp, "MERGE (n:Person {name: 'Ann'})")["nodes_created"] == 0
    assert cypher_write(spark, gp, "MERGE (n:Person {name: 'Dee'})")["nodes_created"] == 1
    # a MERGE miss gives its node the id a CREATE of the same pattern does
    g = GraphCatalog(spark).load("wg", str(tmp_path))
    (merged,) = cypher_query(g, "MATCH (n:Person {name: 'Dee'}) RETURN id(n) AS id").collect()
    assert merged["id"] == create_rows(parse("CREATE (n:Person {name: 'Dee'})"))[0][0][0]

    # plain DELETE refuses on incident edges; DETACH removes them
    import pytest as _pytest

    with _pytest.raises(Exception, match="DETACH"):
        cypher_write(spark, gp, "MATCH (n:Person {id: 'p1'}) DELETE n")
    stats = cypher_write(spark, gp, "MATCH (n:Person {id: 'p1'}) DETACH DELETE n")
    assert stats == {"nodes_deleted": 1, "edges_deleted": 1}
    # deleting an isolated node works without DETACH
    stats = cypher_write(spark, gp, "MATCH (n:Person {id: 'p3'}) DELETE n")
    assert stats["nodes_deleted"] == 1
    g = GraphCatalog(spark).load("wg", str(tmp_path), is_directed=True)
    assert sorted(r["id"] for r in g.nodes.collect()) != []
    assert g.edge_count() == 0


def test_arithmetic_expressions(social):
    # string-stored weight coerced to number inside arithmetic
    out = rows(
        cypher_query(
            social,
            "MATCH (a)-[r:FRIENDS]->(b) WHERE r.weight * 2 + 1 >= 17 "
            "RETURN id(r) AS rid, r.weight * 10 AS w10, (r.weight + 1) % 3 AS m",
        )
    )
    # weights 8, 9 pass (2w+1 = 17, 19); undirected graph → both
    # orientations of each matching edge bind a row
    got = sorted((r["rid"], float(r["w10"]), float(r["m"])) for r in out)
    assert got == [("8", 80.0, 0.0), ("8", 80.0, 0.0), ("9", 90.0, 1.0), ("9", 90.0, 1.0)]


def test_arithmetic_in_aggregate(social):
    out = rows(
        cypher_query(
            social, "MATCH (a)-[r:FRIENDS]->(b) RETURN sum(r.weight * 2) AS s"
        )
    )
    # both orientations double the sum: 2 * 2 * Σ0..9
    assert out == [{"s": 4.0 * sum(range(10))}]


def test_reference_row_shape(social):
    import json

    from jasminegraph_spark.sources.sinks import reference_rows

    df = cypher_query(social, "MATCH (n:Person {name: 'Eva'}) RETURN n")
    rows_out = list(reference_rows(df, k_partitions=2))
    assert len(rows_out) == 1
    obj = json.loads(rows_out[0])
    assert obj["n"]["name"] == "Eva"
    assert obj["n"]["partitionID"] in {"0", "1"}


def test_variable_length_paths(social):
    # ring of FRIENDS: 1 hop reaches {1, 9}; 2 hops reaches {2, 8} —
    # per-path edge uniqueness blocks bouncing back to Alice on the
    # same edge, so '0' is NOT reachable within 2 hops
    out = cypher_query(
        social,
        "MATCH (a:Person {name:'Alice'})-[:FRIENDS*1..2]-(b) RETURN DISTINCT id(b) AS id",
    )
    assert sorted(r["id"] for r in out.collect()) == ["1", "2", "8", "9"]
    # exact hop count: *2 only
    out2 = cypher_query(
        social,
        "MATCH (a:Person {name:'Alice'})-[:FRIENDS*2]-(b) RETURN DISTINCT id(b) AS id",
    )
    assert sorted(r["id"] for r in out2.collect()) == ["2", "8"]


def test_exists_pattern_predicate(social):
    # Persons with an age-bearing friend (EXISTS) vs without (NOT EXISTS)
    has = cypher_query(
        social,
        "MATCH (n:Person) WHERE exists((n)-[:FRIENDS]-(m)) RETURN id(n) AS id",
    )
    assert has.count() == 10  # ring: everyone has friends
    none = cypher_query(
        social,
        "MATCH (n:Person) WHERE NOT exists((n)-[:WORKS_AT]-(x)) AND n.name <> 'Zzz' "
        "RETURN id(n) AS id",
    )
    assert none.count() == 0  # everyone works somewhere
    mixed = cypher_query(
        social,
        "MATCH (n) WHERE NOT exists((n)-[:FRIENDS]-(m)) RETURN id(n) AS id",
    )
    # Locations have no FRIENDS edges
    assert sorted(int(r["id"]) for r in mixed.collect()) == list(range(10, 20))


def test_case_expression(social):
    out = rows(
        cypher_query(
            social,
            "MATCH (n:Person) RETURN n.name AS name, "
            "CASE WHEN n.occupation = 'Teacher' THEN 'T' "
            "WHEN n.occupation = 'Artist' THEN 'A' ELSE 'X' END AS code "
            "ORDER BY name ASC LIMIT 4",
        )
    )
    assert [(r["name"], r["code"]) for r in out] == [
        ("Alice", "T"), ("Bob", "A"), ("Carol", "T"), ("Dave", "A"),
    ]


def test_list_predicates(social):
    # friends of Person 0 in the ring are 1 and 9
    out = cypher_query(
        social,
        "MATCH (p:Person)-[:FRIENDS]-(q:Person) "
        "WITH p.name AS name, collect(id(q)) AS fids "
        "WHERE any(f IN fids WHERE f = 0) RETURN name ORDER BY name",
    )
    assert [r["name"] for r in out.collect()] == ["Bob", "Jack"]
    # everyone has exactly 2 ring friends → single() never holds
    out = cypher_query(
        social,
        "MATCH (p:Person)-[:FRIENDS]-(q:Person) "
        "WITH p.name AS name, collect(id(q)) AS fids "
        "WHERE single(f IN fids WHERE f >= 0) RETURN name",
    )
    assert out.count() == 0
    # all/none
    out = cypher_query(
        social,
        "MATCH (p:Person)-[:FRIENDS]-(q:Person) "
        "WITH p.name AS name, collect(id(q)) AS fids "
        "WHERE all(f IN fids WHERE f < 10) AND none(f IN fids WHERE f > 9) "
        "RETURN name",
    )
    assert out.count() == 10


def test_list_comprehension(social):
    # Alice's friends are 1 and 9; keep ids >= 5, add 100
    out = cypher_query(
        social,
        "MATCH (p:Person {name:'Alice'})-[:FRIENDS]-(q:Person) "
        "WITH p.name AS name, collect(id(q)) AS fids "
        "UNWIND [f IN fids WHERE f >= 5 | f + 100] AS big "
        "RETURN name, big",
    )
    assert [(r["name"], r["big"]) for r in out.collect()] == [("Alice", 109)]
    # comprehension without WHERE (pure transform) and without map (pure filter)
    out = cypher_query(
        social,
        "UNWIND [x IN [1, 2, 3] | x * 2] AS d RETURN d ORDER BY d",
    )
    assert [r["d"] for r in out.collect()] == [2, 4, 6]
    out = cypher_query(
        social,
        "UNWIND [x IN [1, 2, 3] WHERE x <> 2] AS d RETURN d ORDER BY d",
    )
    assert [r["d"] for r in out.collect()] == [1, 3]


def test_call_yield_procedures(social):
    # ring of 10 FRIENDS edges → 0 triangles; VISITS/WORKS_AT are acyclic
    out = cypher_query(
        social, "CALL algo.triangleCount() YIELD n_triangles RETURN n_triangles"
    )
    assert out.collect()[0]["n_triangles"] == 0
    # every Person has exactly 3 undirected neighbors (2 ring + 1 VISITS +
    # 1 WORKS_AT? → ring 2 + visits 1 + works 1 = 4 for persons; locations 2)
    out = cypher_query(
        social,
        "CALL algo.components() YIELD node, component "
        "RETURN count(node) AS n, min(component) AS mc",
    )
    row = out.collect()[0]
    assert row["n"] == 20 and row["mc"] == "0"  # one connected graph
    # YIELD projection + WHERE + ORDER BY compose
    out = cypher_query(
        social,
        "CALL algo.pagerank(0.85, 2) YIELD node, rank "
        "WHERE rank > 0.0 RETURN node ORDER BY node LIMIT 3",
    )
    assert [r["node"] for r in out.collect()] == ["0", "1", "10"]


def test_call_unknown_procedure_raises(social):
    import pytest as _pytest

    from jasminegraph_spark.cypher.compiler import CypherCompileError

    with _pytest.raises(CypherCompileError):
        cypher_query(social, "CALL algo.doesNotExist() YIELD x RETURN x")


def test_call_procedure_registry_extension(social):
    from jasminegraph_spark.cypher import procedures

    procedures.register("test.nodeCount", lambda g: g.nodes.groupBy().count())
    try:
        out = cypher_query(social, "CALL test.nodeCount() YIELD count RETURN count")
        assert out.collect()[0]["count"] == 20
    finally:
        del procedures.PROCEDURES["test.nodeCount"]


def test_type_function_and_string_concat(social):
    out = rows(
        cypher_query(
            social, "MATCH (a)-[r]->(b) RETURN type(r) AS t, count(*) AS n ORDER BY t"
        )
    )
    # undirected graph: -> matches both orientations, so each of the 10
    # edges per type is seen twice
    assert out == [
        {"t": "FRIENDS", "n": 20},
        {"t": "VISITS", "n": 20},
        {"t": "WORKS_AT", "n": 20},
    ]
    # openCypher-overloaded +: a string literal operand makes it concat,
    # numeric literals keep arithmetic semantics
    out = rows(
        cypher_query(
            social,
            "MATCH (n:Person) WHERE n.age = 25 RETURN n.name + '!' AS s",
        )
    )
    assert out == [{"s": PEOPLE[3] + "!"}]


def test_named_path_length_and_nodes(social):
    # fixed-length named path: nodes(p) is the id sequence, length(p) the
    # rel count
    out = rows(
        cypher_query(
            social,
            "MATCH p = (a)-[:FRIENDS]->(b) WHERE id(a) = '0' "
            "RETURN nodes(p) AS ns, length(p) AS len",
        )
    )
    assert sorted((tuple(r["ns"]), r["len"]) for r in out) == [
        (("0", "1"), 1), (("0", "9"), 1),  # undirected: both orientations
    ]
    # variable-length named path: per-row length from the branch
    out = rows(
        cypher_query(
            social,
            "MATCH p = (a)-[:FRIENDS*1..2]->(b) WHERE id(a) = '0' "
            "RETURN id(b) AS b, length(p) AS len ORDER BY len, b",
        )
    )
    lens = {(r["b"], r["len"]) for r in out}
    assert ("1", 1) in lens and ("2", 2) in lens
    # nodes() over a var-length path is a compile error, not wrong data
    import pytest as _pytest

    from jasminegraph_spark.cypher.compiler import CypherCompileError

    with _pytest.raises(CypherCompileError, match="variable-length"):
        cypher_query(social, "MATCH p = (a)-[:FRIENDS*1..2]->(b) RETURN nodes(p) AS ns")


# ---------------- scalar functions + regex match (round-4) ----------------


def test_scalar_string_functions(social):
    out = rows(
        cypher_query(
            social,
            "MATCH (n:Person) WHERE id(n) = '0' "
            "RETURN toUpper(n.name) AS up, toLower(n.name) AS lo, "
            "size(n.name) AS sz, substring(n.name, 1, 3) AS mid, "
            "left(n.name, 2) AS l2, right(n.name, 3) AS r3, "
            "reverse(n.name) AS rev, replace(n.name, 'li', 'LI') AS rep",
        )
    )
    assert out == [
        {
            "up": "ALICE", "lo": "alice", "sz": 5, "mid": "lic",
            "l2": "Al", "r3": "ice", "rev": "ecilA", "rep": "ALIce",
        }
    ]


def test_scalar_numeric_and_coalesce(social):
    out = rows(
        cypher_query(
            social,
            "MATCH (n:Person) WHERE id(n) = '3' "
            "RETURN toInteger(n.age) AS age_i, toFloat(n.age) AS age_f, "
            "abs(toInteger(n.age) - 30) AS diff, sqrt(toFloat('9')) AS root, "
            "coalesce(n.missing, n.name) AS fallback, sign(toFloat('-2.5')) AS sg",
        )
    )
    assert out == [
        {"age_i": 25, "age_f": 25.0, "diff": 5.0, "root": 3.0,
         "fallback": "Dave", "sg": -1}
    ]


def test_scalar_split_is_literal_delimiter(social):
    out = rows(
        cypher_query(
            social,
            "MATCH (n:Person) WHERE id(n) = '0' "
            "RETURN size(split(n.name, 'i')) AS parts",
        )
    )
    # "Alice" splits on literal 'i' → ["Al","ce"]: size() dispatches to
    # array size for split()-shaped args
    assert out[0]["parts"] == 2


def test_regex_match_full_string(social):
    # =~ must anchor: 'A.' alone matches NO 5-char name; 'A.*' matches Alice
    none = cypher_query(social, "MATCH (n:Person) WHERE n.name =~ 'A.' RETURN n.name AS name")
    assert none.count() == 0
    out = rows(cypher_query(social, "MATCH (n:Person) WHERE n.name =~ 'A.*' RETURN n.name AS name"))
    assert [r["name"] for r in out] == ["Alice"]
    multi = rows(
        cypher_query(
            social,
            "MATCH (n:Person) WHERE n.name =~ '.*a.*' RETURN n.name AS name ORDER BY name",
        )
    )
    assert [r["name"] for r in multi] == ["Carol", "Dave", "Eva", "Frank", "Grace", "Jack"]


def test_shortest_path_ring_distances(social):
    out = rows(
        cypher_query(
            social,
            "MATCH p = shortestPath((a:Person {name: 'Alice'})-[:FRIENDS*1..3]-(b:Person)) "
            "RETURN b.name AS name, length(p) AS dist ORDER BY dist, name",
        )
    )
    # FRIENDS is a 10-ring over persons 0..9; distances from Alice (0):
    # 1 → Bob(1), Jack(9); 2 → Carol(2), Ivy(8); 3 → Dave(3), Hugo(7)
    assert out == [
        {"name": "Bob", "dist": 1},
        {"name": "Jack", "dist": 1},
        {"name": "Carol", "dist": 2},
        {"name": "Ivy", "dist": 2},
        {"name": "Dave", "dist": 3},
        {"name": "Hugo", "dist": 3},
    ]


def test_shortest_path_one_row_per_pair(social):
    # VISITS+WORKS_AT give persons two distinct 2-hop routes to some
    # locations; shortestPath must emit exactly one row per (a, b)
    df = cypher_query(
        social,
        "MATCH p = shortestPath((a:Person {name: 'Alice'})-[*1..2]-(b)) "
        "RETURN id(b) AS bid, length(p) AS dist",
    )
    rows_ = df.collect()
    assert len({r["bid"] for r in rows_}) == len(rows_)


def test_shortest_path_rejects_chained_context(social):
    import pytest as _pytest
    from jasminegraph_spark.cypher.compiler import CypherCompileError

    with _pytest.raises(CypherCompileError):
        cypher_query(
            social,
            "MATCH (c:Person) MATCH p = shortestPath((c)-[*1..2]-(b)) "
            "RETURN id(b) AS bid",
        ).collect()


def test_union_distinct_and_all(social):
    q = (
        "MATCH (n:Person) WHERE n.name STARTS WITH 'A' RETURN n.name AS name "
        "UNION MATCH (n:Person) WHERE n.name STARTS WITH 'B' RETURN n.name AS name"
    )
    out = sorted(r["name"] for r in rows(cypher_query(social, q)))
    assert out == ["Alice", "Bob"]
    # overlapping arms: UNION dedups, UNION ALL keeps both copies
    q2 = (
        "MATCH (n:Person {name: 'Eva'}) RETURN n.name AS name "
        "UNION MATCH (n:Person {name: 'Eva'}) RETURN n.name AS name"
    )
    assert cypher_query(social, q2).count() == 1
    q3 = q2.replace("UNION ", "UNION ALL ")
    assert cypher_query(social, q3).count() == 2


def test_union_three_arms_chained(social):
    q = (
        "MATCH (n:Person {name: 'Alice'}) RETURN id(n) AS id "
        "UNION ALL MATCH (n:Person {name: 'Bob'}) RETURN id(n) AS id "
        "UNION ALL MATCH (n:Person {name: 'Alice'}) RETURN id(n) AS id"
    )
    got = sorted(r["id"] for r in rows(cypher_query(social, q)))
    assert got == ["0", "0", "1"]


def test_union_mixing_kinds_rejected(social):
    from jasminegraph_spark.cypher.compiler import CypherCompileError

    with pytest.raises(CypherCompileError):
        cypher_query(
            social,
            "MATCH (n:Person {name: 'Alice'}) RETURN id(n) AS id "
            "UNION MATCH (n:Person {name: 'Bob'}) RETURN id(n) AS id "
            "UNION ALL MATCH (n:Person {name: 'Carol'}) RETURN id(n) AS id",
        )


def test_all_list_predicate_still_parses(social):
    # ALL became a keyword for UNION ALL; the all(...) list predicate
    # must keep working
    out = cypher_query(
        social,
        "MATCH (n:Person) WHERE all(x IN [1, 2] WHERE x > 0) RETURN id(n) AS id",
    )
    assert out.count() == 10


def test_keys_and_properties_functions(social):
    out = rows(
        cypher_query(
            social,
            "MATCH (n:Person) WHERE id(n) = '3' "
            "RETURN keys(n) AS ks, properties(n) AS ps",
        )
    )
    assert out[0]["ks"] == ["age", "name", "occupation"]
    assert out[0]["ps"]["name"] == "Dave" and out[0]["ps"]["age"] == "25"


def test_reduce_fold(social):
    """reduce(acc = init, x IN list | expr) compiles to the JVM-side
    aggregate() HOF: sums, products, and use over collected lists."""
    out = cypher_query(
        social,
        "UNWIND [0] AS z RETURN reduce(acc = 0, x IN [1, 2, 3, 4] | acc + x) AS s",
    )
    assert [r["s"] for r in out.collect()] == [10]
    out = cypher_query(
        social,
        "UNWIND [0] AS z RETURN reduce(acc = 1, x IN [2, 3, 4] | acc * x) AS p",
    )
    assert [r["p"] for r in out.collect()] == [24]
    # fold over a collect()ed list from the graph: sum of Alice's friend ids
    out = cypher_query(
        social,
        "MATCH (p:Person {name:'Alice'})-[:FRIENDS]-(q:Person) "
        "WITH p.name AS name, collect(id(q)) AS fids "
        "RETURN name, reduce(acc = 0, f IN fids | acc + f) AS fid_sum",
    )
    assert [(r["name"], r["fid_sum"]) for r in out.collect()] == [("Alice", 10)]


def test_call_continuation_procedures(social):
    """The round-4 analytics are CALL-able and compose with Cypher
    clauses: PPR ranks filter in-query, k-truss yields its edges."""
    out = cypher_query(
        social,
        "CALL algo.personalizedPagerank('0') YIELD node, rank "
        "WHERE rank > 0.0 RETURN count(node) AS n",
    )
    assert out.collect()[0]["n"] > 1  # seed's component got mass
    out = cypher_query(
        social,
        "CALL algo.coreNumbers(6) YIELD node, core RETURN max(core) AS mx",
    )
    assert out.collect()[0]["mx"] >= 2  # the FRIENDS ring is a 2-core


def test_match_create_relationship(spark, tmp_path):
    """r5: MATCH-bound relationship creation — one edge per distinct
    matched endpoint pair, idempotent on re-run (content-derived ids)."""
    from jasminegraph_spark.cypher.write import cypher_write
    from jasminegraph_spark.graph import GraphCatalog

    gp = str(tmp_path / "rg")
    created = cypher_write(
        spark,
        gp,
        "CREATE (a:City {id: 'c1', name: 'Ank'}), (b:City {id: 'c2', name: 'Bos'}),"
        " (c:Person {id: 'p1', home: 'c1'})",
    )
    assert created == {"nodes_created": 3, "edges_created": 0}
    stats = cypher_write(
        spark, gp, "MATCH (p:Person), (c:City {name: 'Ank'}) CREATE (p)-[:LIVES_IN]->(c)"
    )
    assert stats == {"edges_created": 1}
    g = GraphCatalog(spark).load("rg", str(tmp_path), is_directed=True)
    (e,) = g.edges.collect()
    assert (e["src"], e["dst"], e["type"]) == ("p1", "c1", "LIVES_IN")
    # idempotent: same statement creates nothing new
    again = cypher_write(
        spark, gp, "MATCH (p:Person), (c:City {name: 'Ank'}) CREATE (p)-[:LIVES_IN]->(c)"
    )
    assert again == {"edges_created": 0}
    # reversed arrow binds src/dst the other way
    rev = cypher_write(
        spark, gp, "MATCH (p:Person), (c:City {name: 'Bos'}) CREATE (p)<-[:HOSTS]-(c)"
    )
    assert rev == {"edges_created": 1}
    g = GraphCatalog(spark).load("rg", str(tmp_path), is_directed=True)
    hosts = [r for r in g.edges.collect() if r["type"] == "HOSTS"]
    assert [(hosts[0]["src"], hosts[0]["dst"])] == [("c2", "p1")]
    # unbound endpoint fails loudly
    import pytest as _pytest

    with _pytest.raises(Exception, match="not a bound node"):
        cypher_write(spark, gp, "MATCH (p:Person) CREATE (p)-[:X]->(q)")


def test_merge_relationship_upsert(spark, tmp_path):
    """r5: MERGE (a ..)-[:T]->(b ..) — resolves or creates both endpoints,
    then creates the typed edge iff absent."""
    from jasminegraph_spark.cypher.write import cypher_write
    from jasminegraph_spark.graph import GraphCatalog

    gp = str(tmp_path / "mg")
    cypher_write(spark, gp, "CREATE (a:User {id: 'u1', name: 'Ann'})")
    # endpoint b missing → created; edge created
    s1 = cypher_write(
        spark, gp, "MERGE (a:User {name: 'Ann'})-[:FOLLOWS]->(b:User {name: 'Ben'})"
    )
    assert s1["nodes_created"] == 1 and s1["edges_created"] == 1 and not s1["matched"]
    # everything exists → full no-op
    s2 = cypher_write(
        spark, gp, "MERGE (a:User {name: 'Ann'})-[:FOLLOWS]->(b:User {name: 'Ben'})"
    )
    assert s2 == {"nodes_created": 0, "edges_created": 0, "matched": True}
    # same endpoints, different type → new edge only
    s3 = cypher_write(
        spark, gp, "MERGE (a:User {name: 'Ann'})-[:BLOCKS]->(b:User {name: 'Ben'})"
    )
    assert s3["nodes_created"] == 0 and s3["edges_created"] == 1
    g = GraphCatalog(spark).load("mg", str(tmp_path), is_directed=True)
    assert g.edges.count() == 2 and g.nodes.count() == 2


def test_set_label_and_remove(spark, tmp_path):
    """SET n:Label relabels matched nodes; REMOVE n.prop drops the
    property; REMOVE n:Label nulls a matching label (single-label model
    — divergences documented on the AST nodes)."""
    from jasminegraph_spark.cypher.write import cypher_write

    gp = str(tmp_path / "sl")

    def nodes():
        return spark.read.parquet(f"{gp}/nodes")
    cypher_write(
        spark,
        gp,
        "CREATE (a:Draft {id: 'd1', rank: '3'}), (b:Draft {id: 'd2'}),"
        " (c:Final {id: 'f1', rank: '9'})",
    )
    s = cypher_write(spark, gp, "MATCH (n:Draft) SET n:Archived")
    assert s == {"nodes_set": 2}
    labels = {r["id"]: r["label"] for r in nodes().collect()}
    assert labels == {"d1": "Archived", "d2": "Archived", "f1": "Final"}

    r = cypher_write(spark, gp, "MATCH (n) WHERE n.rank = '3' REMOVE n.rank")
    assert r == {"nodes_updated": 1}
    props = {r["id"]: dict(r["properties"]) for r in nodes().collect()}
    assert "rank" not in props["d1"] and props["f1"]["rank"] == "9"

    r2 = cypher_write(spark, gp, "MATCH (n:Final) REMOVE n:Final")
    assert r2 == {"nodes_updated": 1}
    labels = {r["id"]: r["label"] for r in nodes().collect()}
    assert labels["f1"] is None and labels["d1"] == "Archived"

    # mixed SET list: property + label in one clause
    m = cypher_write(
        spark, gp, "MATCH (n:Archived) SET n.state = 'cold', n:Frozen"
    )
    assert m == {"nodes_set": 2}
    rows = {r["id"]: r for r in nodes().collect()}
    assert rows["d1"]["label"] == "Frozen"
    assert dict(rows["d2"]["properties"])["state"] == "cold"


def test_pattern_comprehension(social):
    """[(a)-[:T]->(b) WHERE p | expr] — one sorted list per row; no-match
    rows get []; nests under size()/reduce()."""
    out = {
        r["name"]: r["friends"]
        for r in cypher_query(
            social,
            "MATCH (p:Person) RETURN p.name AS name,"
            " [(p)-[:FRIENDS]->(f) | f.name] AS friends ORDER BY name",
        ).collect()
    }
    # every Person row is present, values are sorted lists (possibly [])
    assert all(isinstance(v, list) and v == sorted(v) for v in out.values())
    assert any(len(v) > 0 for v in out.values())

    sized = cypher_query(
        social,
        "MATCH (p:Person) RETURN p.name AS name,"
        " size([(p)-[:FRIENDS]->(f) | f.name]) AS n ORDER BY name",
    ).collect()
    assert all(r["n"] == len(out[r["name"]]) for r in sized)


def test_merge_on_create_on_match_set(spark, tmp_path):
    """r6: MERGE ... ON CREATE SET / ON MATCH SET — the conditional
    upsert idiom. The miss path applies only the ON CREATE items (after
    the content-hash id derives from the MATCH pattern alone); the match
    path applies ON MATCH to every matched node; plain MERGE keeps its
    original stats shape."""
    import pytest as _pt

    from jasminegraph_spark.cypher.write import cypher_write

    gp = str(tmp_path / "oc")
    cypher_write(spark, gp, "CREATE (a:User {id: 'u1', name: 'Ann'})")
    s1 = cypher_write(
        spark, gp,
        "MERGE (n:User {name: 'Ben'}) ON CREATE SET n.state = 'new', n.v = 1"
        " ON MATCH SET n.state = 'seen'",
    )
    assert s1 == {"nodes_created": 1, "matched": False, "nodes_set": 1}

    def ben():
        rows = spark.read.parquet(f"{gp}/nodes").collect()
        return dict(
            [r for r in rows if dict(r["properties"]).get("name") == "Ben"][0][
                "properties"
            ]
        )

    assert ben()["state"] == "new" and ben()["v"] == "1"
    s2 = cypher_write(
        spark, gp,
        "MERGE (n:User {name: 'Ben'}) ON CREATE SET n.state = 'new2'"
        " ON MATCH SET n.state = 'seen', n.hits = 2",
    )
    assert s2 == {"nodes_created": 0, "matched": True, "nodes_set": 1}
    p = ben()
    assert p["state"] == "seen" and p["hits"] == "2" and p["v"] == "1"
    # unchanged contract for plain MERGE
    assert cypher_write(spark, gp, "MERGE (n:User {name: 'Ben'})") == {
        "nodes_created": 0, "matched": True,
    }
    # relationship MERGE rejects the ON clauses loudly
    with _pt.raises(Exception, match="single-node MERGE"):
        cypher_write(
            spark, gp,
            "MERGE (a:User {name: 'Ann'})-[:F]->(b:User {name: 'Ben'})"
            " ON CREATE SET a.x = 1",
        )


def test_merge_on_match_set_null_properties(spark, tmp_path):
    """r7 regression (ADVICE r6): NODE_SCHEMA allows a NULL properties
    map; ON MATCH SET on such a node must still land the update —
    map_filter(NULL)/map_concat(NULL, m) propagate NULL and would
    silently keep properties NULL while nodes_set counts the node."""
    from jasminegraph_spark.cypher.write import cypher_write
    from jasminegraph_spark.graph import NODE_SCHEMA

    gp = str(tmp_path / "nullprops")
    spark.createDataFrame([("n1", "User", None)], NODE_SCHEMA).write.parquet(
        f"{gp}/nodes"
    )
    s = cypher_write(spark, gp, "MERGE (n:User) ON MATCH SET n.state = 'seen'")
    assert s == {"nodes_created": 0, "matched": True, "nodes_set": 1}
    row = spark.read.parquet(f"{gp}/nodes").collect()[0]
    assert row["properties"] is not None
    assert dict(row["properties"]) == {"state": "seen"}
