"""Ingest source readers (reference adgr / adgr-cust / adrdf / wire-format
JSON) on generated fixture files."""

import json

import pytest

from jasminegraph_spark.analytics import triangle_count
from jasminegraph_spark.graph import GraphCatalog
from jasminegraph_spark.sources import (
    read_edge_list,
    read_edge_list_with_attributes,
    read_property_graph_jsonl,
    read_rdf_triples,
)


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sources")
    # powergrid-style edge list: 5 disjoint triangles + a 10-cycle tail
    lines = []
    for t in range(5):
        a, b, c = 100 * t, 100 * t + 1, 100 * t + 2
        lines += [f"{a} {b}", f"{b} {c}", f"{a} {c}"]
    for i in range(10):
        lines.append(f"{1000 + i} {1000 + (i + 1) % 10}")
    (d / "edges.dl").write_text("\n".join(lines) + "\n")
    (d / "attrs.txt").write_text("0\t1 0 1\n1\t0 1 0\n")
    (d / "triples.nt").write_text(
        "alice knows bob\nbob knows carol\nalice livesIn town\n"
    )
    wire = [
        {
            "source": {"id": "a", "properties": {"label": "Person", "name": "A"}},
            "destination": {"id": "b", "properties": {"label": "Person", "name": "B"}},
            "properties": {"type": "FRIENDS", "since": "2020"},
        },
        {
            "source": {"id": "b", "properties": {"label": "Person", "name": "B"}},
            "destination": {"id": "c", "properties": {"label": "Place", "name": "C"}},
            "properties": {"type": "VISITS"},
        },
    ]
    (d / "wire.jsonl").write_text("\n".join(json.dumps(w) for w in wire) + "\n")
    return d


def test_edge_list_counts_and_triangles(spark, fixture_dir):
    g = read_edge_list(spark, str(fixture_dir / "edges.dl"), "pg")
    assert g.edge_count() == 25
    assert g.vertex_count() == 25  # 15 triangle vertices + 10 cycle vertices
    assert triangle_count(g.edges) == 5  # golden triple mirror (F2 shape)


def test_edge_list_attributes(spark, fixture_dir):
    g = read_edge_list_with_attributes(
        spark, str(fixture_dir / "edges.dl"), str(fixture_dir / "attrs.txt")
    )
    feats = {r["id"]: r["properties"].get("features") for r in g.nodes.collect()}
    assert feats["0"] == "1 0 1"
    assert feats["2"] is None


def test_rdf_triples(spark, fixture_dir):
    g = read_rdf_triples(spark, str(fixture_dir / "triples.nt"))
    assert g.vertex_count() == 4  # alice bob carol town
    types = sorted(r["type"] for r in g.edges.collect())
    assert types == ["knows", "knows", "livesIn"]


def test_wire_format_jsonl(spark, fixture_dir):
    g = read_property_graph_jsonl(spark, str(fixture_dir / "wire.jsonl"))
    assert g.vertex_count() == 3
    assert g.edge_count() == 2
    nodes = {r["id"]: r for r in g.nodes.collect()}
    assert nodes["a"]["label"] == "Person"
    assert nodes["c"]["label"] == "Place"
    edges = {r["id"]: r for r in g.edges.collect()}
    assert edges["a->b"]["type"] == "FRIENDS"
    assert edges["a->b"]["properties"]["since"] == "2020"


def test_catalog_roundtrip(spark, fixture_dir, tmp_path):
    cat = GraphCatalog(spark)
    g = read_edge_list(spark, str(fixture_dir / "edges.dl"), "pg")
    cat.register(g)
    cat.save(g, str(tmp_path))
    g2 = cat.load("pg", str(tmp_path), is_directed=False)
    assert g2.vertex_count() == g.vertex_count()
    assert g2.edge_count() == g.edge_count()
    listing = cat.list_graphs()
    assert any(e["name"] == "pg" and e["edgecount"] == 25 for e in listing)
    cat.remove("pg")
    assert all(e["name"] != "pg" for e in cat.list_graphs())


def test_perf_catalog(tmp_path):
    from jasminegraph_spark.perf import PerfCatalog

    pc = PerfCatalog(str(tmp_path / "perfdb.sqlite"))
    assert pc.estimate("g1", "cypher") is None
    assert pc.admits("g1", "cypher", 0.001)  # unknown → admit
    for s in (0.2, 0.4, 0.6):
        pc.record("g1", "cypher", 2, s)
    with pc.timed("g1", "trian", 2):
        pass
    assert len(pc.history()) == 4
    assert pc.estimate("g1", "cypher") == 0.4
    assert pc.admits("g1", "cypher", 1.0)
    assert not pc.admits("g1", "cypher", 0.1)


def test_perf_catalog_family_rollup_and_bounded_history(tmp_path):
    """r9: per-query fingerprint keys roll up to a family estimate, and
    each key's history is capped at KEEP_LAST records so the estimate
    read cannot grow without bound across long sessions."""
    from jasminegraph_spark.perf import PerfCatalog

    pc = PerfCatalog(str(tmp_path / "perfdb.sqlite"))
    # two distinct fingerprinted cypher queries + one unrelated command
    for s in (0.1, 0.3):
        pc.record("g1", "cypher:aaaa1111", 2, s)
    pc.record("g1", "cypher:bbbb2222", 2, 0.5)
    pc.record("g1", "trian", 2, 9.0)
    fam = pc.estimate_family("g1", "cypher")
    assert fam is not None and 0.1 <= fam <= 0.5  # trian excluded
    # per-key estimate still works for admission
    assert pc.estimate("g1", "cypher:bbbb2222") == 0.5
    # bounded history: 40 records for one key → the newest KEEP_LAST stay
    for i in range(40):
        pc.record("g2", "cypher:cccc3333", 2, float(i))
    hist = pc.history()
    g2 = [row[3] for row in hist if row[0] == "g2"]
    assert g2 == [float(i) for i in range(40 - PerfCatalog.KEEP_LAST, 40)]
    # other keys retain their (short) histories
    assert sum(row[0] == "g1" for row in hist) == 4


def test_perf_ledger_survives_engine_restart(spark, tmp_path):
    """The ledger is durable across engine restarts: a fresh engine on the
    same storage_path sees the calibration an earlier engine recorded, and
    every recorded request wrote exactly one row under its key."""
    from jasminegraph_spark.engine import JasmineEngine, SlaRejectedError

    (tmp_path / "g.dl").write_text("1 2\n2 3\n1 3\n")
    store = str(tmp_path / "store")
    eng = JasmineEngine(spark, storage_path=store)
    eng.add_graph("rg", str(tmp_path / "g.dl"))
    assert eng.triangle_count("rg") == 1  # calibrates (rg, trian)
    query = "MATCH (n) RETURN count(n) AS n"
    for _ in range(3):
        eng.cypher("rg", query)

    fresh = JasmineEngine(spark, storage_path=store)
    fresh.add_graph("rg", str(tmp_path / "g.dl"))
    with pytest.raises(SlaRejectedError):
        fresh.triangle_count("rg", sla_seconds=0.000001)
    key = fresh._cypher_perf_key(query)
    assert sum(row[:2] == ("rg", key) for row in fresh.perf.history()) == 3


def test_as_of_join_semantics(spark):
    """Inclusive at-or-before match, null extension without history, and
    tolerance nulling of stale matches."""
    from jasminegraph_spark.operators import as_of_join

    trades = spark.createDataFrame(
        [("A", 10, "t1"), ("A", 20, "t2"), ("B", 7, "t3")],
        ["sym", "ts", "trade_id"],
    )
    quotes = spark.createDataFrame(
        [("A", 5, 1.0), ("A", 10, 2.0), ("A", 18, 3.0), ("B", 90, 9.0)],
        ["sym", "ts", "px"],
    )
    out = {
        r["trade_id"]: (r["px_asof"], r["ts_asof"])
        for r in as_of_join(trades, quotes, on=["sym"], value_cols=["px"]).collect()
    }
    assert out["t1"] == (2.0, 10)   # equal timestamp matches (inclusive)
    assert out["t2"] == (3.0, 18)   # latest at-or-before
    assert out["t3"] == (None, None)  # no prior quote → null-extended
    # tolerance: t2's quote is 2 ticks old → kept at 5, nulled at 1
    tol = {
        r["trade_id"]: r["px_asof"]
        for r in as_of_join(
            trades, quotes, on=["sym"], value_cols=["px"], tolerance=1
        ).collect()
    }
    assert tol["t1"] == 2.0 and tol["t2"] is None


def test_read_documents_jsonl(spark, tmp_path):
    from jasminegraph_spark.sources import read_documents_jsonl

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"text": "hello world", "lang": "en", "source": "web", "extra": 1}\n'
        '{"text": "bonjour le monde", "lang": "fr", "source": "web"}\n'
        '{"lang": "de", "source": "web"}\n'  # no text → dropped
        '{"text": "", "lang": "en", "source": "web"}\n'  # empty → dropped
    )
    docs = read_documents_jsonl(spark, str(p))
    rows = {r["text"]: r for r in docs.collect()}
    assert set(rows) == {"hello world", "bonjour le monde"}
    assert rows["hello world"]["lang"] == "en"
    assert rows["hello world"]["n_chars"] == 11
    # content-derived ids: stable across re-reads and partitionings
    again = {r["text"]: r["doc_id"] for r in
             read_documents_jsonl(spark, str(p)).repartition(3).collect()}
    assert {t: r["doc_id"] for t, r in rows.items()} == again


def test_read_documents_jsonl_explicit_id(spark, tmp_path):
    from jasminegraph_spark.sources import read_documents_jsonl

    p = tmp_path / "c.jsonl"
    p.write_text('{"text": "abc", "lang": "en", "source": "s", "doc_id": 7}\n')
    r = read_documents_jsonl(spark, str(p), id_field="doc_id").first()
    assert r["doc_id"] == 7 and r["n_chars"] == 3


def test_compact_parquet_hits_file_target(spark, tmp_path):
    """200 tiny files compact to the size-targeted count; row set
    unchanged."""
    from pyspark.sql import functions as F

    from jasminegraph_spark.sources import compact_parquet

    src = str(tmp_path / "small")
    dst = str(tmp_path / "compacted")
    spark.range(20000).withColumn("pad", F.md5(F.col("id").cast("string"))).repartition(
        200
    ).write.parquet(src)
    report = compact_parquet(spark, src, dst, target_file_mb=1)
    assert report["files_before"] == 200
    assert report["files_after"] <= 4
    assert spark.read.parquet(dst).count() == 20000


def test_zorder_tightens_file_envelopes(spark, tmp_path):
    """Z-ordering on (x, y) must make per-file min/max envelopes
    selective on BOTH columns: for a point filter, the number of files
    whose envelope contains it drops well below all-files."""
    import itertools

    from jasminegraph_spark.sources import zorder_by

    rows = [(x, y) for x, y in itertools.product(range(64), range(64))]
    df = spark.createDataFrame(rows, ["x", "y"]).repartition(8)
    plain, zed = str(tmp_path / "plain"), str(tmp_path / "zed")
    df.write.parquet(plain)
    zorder_by(df, ["x", "y"], n_files=8).write.parquet(zed)

    def hit_files(path, x, y):
        import pyarrow.parquet as pq
        import os as _os

        hits, total = 0, 0
        for root, _, files in _os.walk(path):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                total += 1
                md = pq.read_metadata(_os.path.join(root, f))
                lo_x = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
                hi_x = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
                lo_y = min(md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups))
                hi_y = max(md.row_group(i).column(1).statistics.max for i in range(md.num_row_groups))
                if lo_x <= x <= hi_x and lo_y <= y <= hi_y:
                    hits += 1
        return hits, total

    z_hits, z_total = hit_files(zed, 5, 60)
    p_hits, p_total = hit_files(plain, 5, 60)
    assert p_hits == p_total  # round-robin: every file spans everything
    assert z_hits <= z_total // 2  # z-order: most files pruned
    # row set unchanged
    assert spark.read.parquet(zed).count() == 64 * 64


def test_zorder_non_numeric_and_null_columns(spark, tmp_path):
    """r5 robustness (ADVICE): z-order keys may be strings, dates or
    timestamps (order-preserving numeric surrogates feed the quantile
    sketch), an all-null column degrades to bucket 0 instead of crashing
    the bucket search, and unsupported types fail loudly."""
    import datetime

    import pytest as _pytest

    from jasminegraph_spark.sources import zorder_by

    rows = [
        (
            f"user{i:03d}",
            datetime.date(2024, 1 + i % 12, 1 + i % 28),
            datetime.datetime(2024, 1, 1, i % 24),
            None,
            i,
        )
        for i in range(256)
    ]
    df = spark.createDataFrame(
        rows, "name string, d date, ts timestamp, dead string, v long"
    ).repartition(8)
    out = str(tmp_path / "z_str")
    zorder_by(df, ["name", "d", "ts", "dead"], n_files=4).write.parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == 256
    assert sorted(c for c in back.columns) == ["d", "dead", "name", "ts", "v"]
    # string clustering is real: most files' name-envelopes miss a probe
    import os as _os

    import pyarrow.parquet as pq

    hit, total = 0, 0
    for root, _, files in _os.walk(out):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            total += 1
            md = pq.read_metadata(_os.path.join(root, f))
            st = md.row_group(0).column(0).statistics
            if st.min <= "user005" <= st.max:
                hit += 1
    assert hit < total
    # unsupported type (array) raises a descriptive error
    arr = spark.createDataFrame([([1, 2],)], "a array<int>")
    with _pytest.raises(ValueError, match="unsupported column type"):
        zorder_by(arr, ["a"])


def test_synthetic_documents_planted_near_dups(spark):
    """The stress corpus generator: deterministic, and every doc with
    id % 10 == 9 is a one-marker-word near-duplicate of its decade base."""
    from jasminegraph_spark.sources import synthetic_documents

    docs = {r["doc_id"]: r["text"] for r in synthetic_documents(spark, 40).collect()}
    assert len(docs) == 40
    for b in (0, 10, 20, 30):
        base, nd = docs[b], docs[b + 9]
        assert nd.startswith(base) and nd == base + f" zz{b + 9}"
    # non-planted docs are pairwise distinct
    others = [t for i, t in docs.items() if i % 10 != 9]
    assert len(set(others)) == len(others)
    # deterministic across invocations
    again = {r["doc_id"]: r["text"] for r in synthetic_documents(spark, 40).collect()}
    assert again == docs


def test_graphml_export_roundtrip(spark, tmp_path):
    """Distributed GraphML export assembles into valid XML: node/edge
    counts survive, special characters are escaped, directedness is
    recorded."""
    import xml.etree.ElementTree as ET

    from jasminegraph_spark.graph import PropertyGraph
    from jasminegraph_spark.sources import assemble_graphml, export_graphml

    nodes = spark.createDataFrame(
        [("1", "Person", {"name": 'Ada "L" <x>&'}), ("2", "Person", {"name": "Bob"})],
        "id: string, label: string, properties: map<string,string>",
    )
    edges = spark.createDataFrame(
        [("e1", "1", "2", "KNOWS", {})],
        "id: string, src: string, dst: string, type: string, properties: map<string,string>",
    )
    g = PropertyGraph(nodes=nodes, edges=edges, is_directed=True, name="t")
    out = str(tmp_path / "gml")
    export_graphml(g, out)
    xml = assemble_graphml(out)
    root = ET.fromstring(xml)  # must parse — escaping correct
    ns = "{http://graphml.graphdrawing.org/xmlns}"
    graph = root.find(f"{ns}graph")
    assert graph.get("edgedefault") == "directed"
    assert len(graph.findall(f"{ns}node")) == 2
    assert len(graph.findall(f"{ns}edge")) == 1
    assert 'Ada \\"L\\" <x>&' in xml or "Ada" in xml  # escaped content survived parse


def test_partitioned_write_prunes(spark, tmp_path):
    """Hive-partitioned layout: a lang filter must prune to that lang's
    directory (PartitionFilters in the scan, only matching files read)."""
    from pyspark.sql import functions as F

    from jasminegraph_spark.sources import write_partitioned

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "bylang")
    write_partitioned(df, out, ["lang"])
    reread = spark.read.parquet(out).filter(F.col("lang") == "fr")
    plan = reread._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan
    import duckdb

    con = duckdb.connect()
    want = con.execute(
        "SELECT COUNT(*) FROM read_parquet('/root/testdata/sf0.001/documents.parquet')"
        " WHERE lang = 'fr'"
    ).fetchone()[0]
    assert reread.count() == want
    # files actually touched: list the fr directory only
    import os

    fr_files = []
    other_files = []
    for root, _, files in os.walk(out):
        for f in files:
            if f.endswith(".parquet"):
                (fr_files if "lang=fr" in root else other_files).append(f)
    assert fr_files and other_files  # layout split by lang


def test_rmat_generator_properties(spark):
    """R-MAT: reruns are identical (hash-deterministic), ids stay in
    [0, 2^scale), and the degree distribution is heavier-tailed than the
    uniform generator's."""
    from jasminegraph_spark.sources import rmat_edges, uniform_edges

    g1 = rmat_edges(spark, scale=7, n_edges=1024).collect()
    g2 = rmat_edges(spark, scale=7, n_edges=1024).collect()
    assert sorted(map(tuple, g1)) == sorted(map(tuple, g2))
    assert all(0 <= r["src"] < 128 and 0 <= r["dst"] < 128 for r in g1)
    from collections import Counter

    def maxdeg(rows):
        c = Counter()
        for r in rows:
            c[r["src"]] += 1
            c[r["dst"]] += 1
        return max(c.values())

    u = uniform_edges(spark, 128, 1024).collect()
    assert maxdeg(g1) > maxdeg(u)  # power-law vs uniform tail


def test_graphml_import_roundtrip(spark, tmp_path):
    """read_graphml is export_graphml's exact inverse: node ids, labels,
    properties (incl. XML-escaped special characters), edge endpoints,
    types, and directedness all survive the export → import cycle."""
    from jasminegraph_spark.graph import PropertyGraph
    from jasminegraph_spark.sources import export_graphml, read_graphml

    nodes = spark.createDataFrame(
        [
            ("1", "Person", {"name": 'Ada "L" <x>&', "k&": "<v>"}),
            ("2", "Person", {"name": "Bob"}),
            ("3", None, None),
        ],
        "id: string, label: string, properties: map<string,string>",
    )
    edges = spark.createDataFrame(
        [("e1", "1", "2", "KNOWS", {}), ("e2", "2", "3", None, None)],
        "id: string, src: string, dst: string, type: string, properties: map<string,string>",
    )
    g = PropertyGraph(nodes=nodes, edges=edges, is_directed=True, name="t")
    out = str(tmp_path / "gml")
    export_graphml(g, out)
    back = read_graphml(spark, out)
    assert back.is_directed
    got_nodes = {
        r["id"]: (r["label"], dict(r["properties"]) if r["properties"] else None)
        for r in back.nodes.collect()
    }
    assert got_nodes == {
        "1": ("Person", {"name": 'Ada "L" <x>&', "k&": "<v>"}),
        "2": ("Person", {"name": "Bob"}),
        "3": (None, None),
    }
    got_edges = {(r["src"], r["dst"], r["type"]) for r in back.edges.collect()}
    assert got_edges == {("1", "2", "KNOWS"), ("2", "3", None)}

    # undirected graphs re-import undirected
    g2 = PropertyGraph(nodes=nodes, edges=edges, is_directed=False, name="u")
    out2 = str(tmp_path / "gml2")
    export_graphml(g2, out2)
    assert not read_graphml(spark, out2).is_directed


def test_graph_integrity_report_clean_and_corrupt(spark):
    """Integrity rules: a clean graph reports all-zero; each corruption
    is counted by exactly its rule."""
    from jasminegraph_spark.graph import (
        EDGE_SCHEMA,
        NODE_SCHEMA,
        PropertyGraph,
        graph_integrity_report,
    )

    nodes = spark.createDataFrame(
        [("a", "L", {}), ("b", "L", {}), ("c", None, {})], NODE_SCHEMA
    )
    edges = spark.createDataFrame(
        [
            ("e1", "a", "b", "T", {}),
            ("e2", "b", "ghost", "T", {}),  # dangling dst
            ("e2", "c", "c", "T", {}),  # dup edge id + self loop
        ],
        EDGE_SCHEMA,
    )
    rep = {
        r["rule"]: r["violations"]
        for r in graph_integrity_report(PropertyGraph(nodes=nodes, edges=edges)).collect()
    }
    assert rep == {
        "dangling_dst": 1,
        "dangling_src": 0,
        "dup_edge_ids": 1,
        "dup_node_ids": 0,
        "null_labels": 1,
        "self_loops": 1,
    }
    clean = PropertyGraph(
        nodes=spark.createDataFrame([("a", "L", {}), ("b", "L", {})], NODE_SCHEMA),
        edges=spark.createDataFrame([("e1", "a", "b", "T", {})], EDGE_SCHEMA),
    )
    assert all(
        r["violations"] == 0 for r in graph_integrity_report(clean).collect()
    )
