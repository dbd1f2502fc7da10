"""End-to-end lifecycle through the JasmineEngine facade — the reference's
frontend command sequence (integration_workflow_core.py shape): ingest →
counts → analytics → cypher → write → export, against one engine."""

import json

import pytest

from jasminegraph_spark.engine import JasmineEngine


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    return JasmineEngine(spark, storage_path=str(tmp_path_factory.mktemp("store")))


@pytest.fixture(scope="module")
def ingested(engine, tmp_path_factory):
    d = tmp_path_factory.mktemp("data")
    lines = []
    for t in range(4):  # 4 triangles
        a, b, c = 10 * t, 10 * t + 1, 10 * t + 2
        lines += [f"{a} {b}", f"{b} {c}", f"{a} {c}"]
    (d / "g.dl").write_text("\n".join(lines) + "\n")
    engine.add_graph("pg", str(d / "g.dl"))
    return engine


def test_core_workflow_counts_and_analytics(ingested):
    # the reference's golden-triple workflow: ecnt, vcnt, trian, pgrnk
    assert ingested.edge_count("pg") == 12
    assert ingested.vertex_count("pg") == 12
    assert ingested.triangle_count("pg") == 4
    top = ingested.top_k_pagerank("pg", k=3, iterations=5).collect()
    assert len(top) == 3
    dd = {r["degree"]: r["n_nodes"] for r in ingested.degree_distribution("pg").collect()}
    # per triangle a->b, b->c, a->c: in-degrees are b:1, c:2 (a has none)
    assert dd == {1: 4, 2: 4}
    assert ingested.connected_components("pg").select("component").distinct().count() == 4


def test_cypher_and_rows_protocol(ingested):
    out = ingested.cypher("pg", "MATCH (n) WHERE id(n) = '0' RETURN n")
    rows = list(ingested.cypher_rows("pg", "MATCH (n) WHERE id(n) = '0' RETURN n"))
    assert out.count() == 1 and len(rows) == 1
    assert "partitionID" in json.loads(rows[0])["n"]
    # perf catalog recorded the cypher latencies: r8 keys per query
    # fingerprint (cypher:<md5-8>), so introspect via the family rollup
    # and via the exact per-query key.
    assert ingested.perf.estimate_family("pg", "cypher") is not None
    key = ingested._cypher_perf_key("MATCH (n) WHERE id(n) = '0' RETURN n")
    assert ingested.perf.estimate("pg", key) is not None


@pytest.mark.sweep  # r14: multi-minute quality/property row -> sweep tier (see pyproject)
def test_train_and_merge_verbs(engine, tmp_path):
    """The reference's train / merge FrontEnd verbs through the facade:
    fit the seeded link classifier on a two-community graph, then the
    federated shard-train → FedAvg merge."""
    import itertools

    lines = [f"{a} {b}" for a, b in itertools.combinations(range(30), 2)]
    lines += [f"{a} {b}" for a, b in itertools.combinations(range(100, 130), 2)]
    p = tmp_path / "cl.dl"
    p.write_text("\n".join(lines) + "\n")
    engine.add_graph("cl", str(p))
    model, scored = engine.train_model("cl")
    assert {"a", "b", "label", "score", "jac"} <= set(scored.columns)
    assert scored.count() > 0
    coeffs, intercept, fscored = engine.merge_models("cl", n_workers=2)
    assert len(coeffs) == 15 and isinstance(intercept, float)
    assert fscored.count() > 0
    engine.remove_graph("cl")


def test_write_and_export_roundtrip(ingested, tmp_path):
    stats = ingested.cypher_write(
        "pg", "CREATE (x:Extra {id: 'x1', kind: 'probe'})"
    )
    assert stats["nodes_created"] == 1
    assert ingested.vertex_count("pg") == 13  # snapshot refreshed
    ingested.export_graph("pg", str(tmp_path / "wire"))
    g2 = ingested.add_json_graph("pg2", str(tmp_path / "wire"))
    assert g2.edges.count() == 12
    ingested.remove_graph("pg2")
    assert all(e["name"] != "pg2" for e in ingested.list_graphs())


def test_streaming_triangles_command(engine, tmp_path):
    """adstrmk + strian through the facade: stream triangle-closing edges,
    running count must equal the batch recount of the ingested graph."""
    from jasminegraph_spark.analytics import triangle_count

    src = tmp_path / "topic"
    src.mkdir()
    lines = []
    for k in range(5):
        a, b, c = 1000 + 3 * k, 1001 + 3 * k, 1002 + 3 * k
        for s, d in ((a, b), (b, c), (c, a)):
            lines.append(
                json.dumps(
                    {
                        "source": {"id": str(s), "properties": {"label": "V"}},
                        "destination": {"id": str(d), "properties": {"label": "V"}},
                        "properties": {"type": "E"},
                    }
                )
            )
    # three files at maxFilesPerTrigger=2: two micro-batches, and every
    # batch's edges must stay in the store
    for i, chunk in enumerate((lines[:5], lines[5:10], lines[10:])):
        (src / f"b{i}.jsonl").write_text("\n".join(chunk) + "\n")
    ingest, counter, q = engine.add_stream_with_triangles(
        "stream_g", str(src), str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    assert ingest.edges().count() == len(lines)
    assert counter.total == 5
    assert counter.total == triangle_count(ingest.edges())
    assert engine.stop_stream("stream_g") is False  # already finished


def _write_edge_files(src, first: int, chunks) -> None:
    """One edge-JSON file per chunk, with increasing modification times
    so the file source reads them (two per micro-batch) in this order."""
    import os

    for i, chunk in enumerate(chunks, start=first):
        path = src / f"f{i:02d}.jsonl"
        path.write_text(
            "".join(
                json.dumps(
                    {
                        "source": {"id": str(s), "properties": {"label": "V"}},
                        "destination": {"id": str(d), "properties": {"label": "V"}},
                        "properties": {"type": "E"},
                    }
                )
                + "\n"
                for s, d in chunk
            )
        )
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def _distinct_triangles(pairs) -> int:
    """Pure-Python recount: triangles of the distinct undirected graph."""
    from itertools import combinations

    und = {frozenset(p) for p in pairs if p[0] != p[1]}
    nodes = sorted({v for e in und for v in e})
    return sum(
        1
        for a, b, c in combinations(nodes, 3)
        if {frozenset((a, b)), frozenset((b, c)), frozenset((a, c))} <= und
    )


def test_streaming_triangles_reversed_and_replayed_edges(engine, tmp_path):
    """strian over several micro-batches of the real stream: an edge that
    arrives again, in either orientation, adds no triangles, including
    across a restart of the counter on the same state."""
    import random

    from jasminegraph_spark.streaming import StreamingTriangleCounter

    rnd = random.Random(7)
    edges = rnd.sample([(a, b) for a in range(14) for b in range(a + 1, 14)], 36)
    rev = [(b, a) for a, b in edges]
    chunks = [
        edges[:10],
        edges[10:20],
        rev[:5] + edges[20:25],  # b→a after a→b in an earlier batch
        edges[12:16] + rev[20:23] + [(3, 3)],  # replays, reversals, a self-loop
        edges[25:30] + rev[25:27],  # both orientations in one batch
        rev[10:14] + edges[:2],
    ]
    src = tmp_path / "topic"
    src.mkdir()
    _write_edge_files(src, 0, chunks)
    ck = str(tmp_path / "ck")
    ingest, counter, q = engine.add_stream_with_triangles("stream_rev", str(src), ck)
    q.awaitTermination(300)
    sent = [p for c in chunks for p in c]
    assert ingest.edges().count() == len(sent)  # three micro-batches, all kept
    assert counter.total == _distinct_triangles(sent)

    state = f"{engine.storage_path}/stream_rev__tri_state"
    assert StreamingTriangleCounter(engine.spark, state).total == counter.total
    # the restarted counter keeps deduplicating against the stored state
    more = [rev[30:36] + edges[:3], edges[30:36] + rev[5:8]]
    _write_edge_files(src, len(chunks), more)
    _, counter2, q2 = engine.add_stream_with_triangles("stream_rev", str(src), ck)
    q2.awaitTermination(300)
    sent += [p for c in more for p in c]
    assert counter2.total == _distinct_triangles(sent)


def _cli(store, *args):
    """Run the CLI in-process: the same argv → verb → JSON-line path as
    the subprocess tests, minus a fresh JVM per invocation (r14, VERDICT
    r13 #2 — the CLI tests were ~16 min of the suite, almost all of it
    SparkSession startup ×~25 subprocesses). The process boundary itself
    stays covered by test_cli_subprocess_roundtrip, which still execs a
    real interpreter. get_spark's getOrCreate reuses the session-scoped
    test JVM."""
    import contextlib
    import io

    from jasminegraph_spark.__main__ import main as cli_main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli_main(["--store", str(store), *args])
    assert rc in (0, None), f"CLI exited {rc}"
    return [json.loads(line) for line in buf.getvalue().strip().splitlines() if line]


def test_cli_subprocess_roundtrip(tmp_path):
    """The __main__ CLI as a real subprocess: adgr → trian → vcnt."""
    import subprocess
    import sys

    (tmp_path / "g.dl").write_text("1 2\n2 3\n3 1\n")
    env = {**__import__("os").environ, "SPARK_GRAFT_CPUS": "2", "PYTHONPATH": "/root/repo"}

    def run(*args):
        out = subprocess.run(
            [sys.executable, "-m", "jasminegraph_spark", "--store", str(tmp_path / "s"), *args],
            capture_output=True, text=True, timeout=240, env=env, cwd="/root/repo",
        )
        assert out.returncode == 0, out.stderr[-500:]
        return json.loads(out.stdout.strip().splitlines()[-1])

    assert run("adgr", "cg", str(tmp_path / "g.dl")) == {
        "added": "cg", "vertices": 3, "edges": 3,
    }
    assert run("trian", "cg") == {"triangles": 1}
    assert run("vcnt", "cg") == {"vertices": 3}


def test_cli_predict_and_constructkg(spark, tmp_path):
    """CLI verbs for the reference's predict and constructkg commands."""
    # two hubs sharing 3 leaves → predictable links
    (tmp_path / "g.dl").write_text("0 1\n0 2\n0 3\n9 1\n9 2\n9 3\n")
    (tmp_path / "docs.jsonl").write_text(
        '{"doc_id": 1, "text": "x likes y while y hates z"}\n'
        '{"doc_id": 2, "text": "x likes y"}\n'
    )

    def run(*args):
        return _cli(tmp_path / "s", *args)

    run("adgr", "pg", str(tmp_path / "g.dl"))
    preds = run("predict", "pg", "--top", "5")
    assert {(p["a"], p["b"]) for p in preds} >= {("0", "9")}
    assert all(0.0 < p["jaccard"] <= 1.0 for p in preds)
    (kg,) = run("constructkg", "kg", str(tmp_path / "docs.jsonl"))
    assert kg == {"constructed": "kg", "vertices": 4, "edges": 2}


def test_cli_train_and_merge(spark, tmp_path):
    """CLI verbs for the reference's train and merge commands."""
    import itertools

    lines = [f"{a} {b}" for a, b in itertools.combinations(range(30), 2)]
    lines += [f"{a} {b}" for a, b in itertools.combinations(range(100, 130), 2)]
    (tmp_path / "cl.dl").write_text("\n".join(lines) + "\n")

    def run(*args):
        return _cli(tmp_path / "s", *args)

    run("adgr", "cl", str(tmp_path / "cl.dl"))
    (tr,) = run("train", "cl")
    assert tr["trained"] == "cl" and tr["n_test_examples"] > 0
    assert 0.0 <= tr["test_auc"] <= 1.0
    (mg,) = run("merge", "cl", "--workers", "2")
    assert mg["n_coefficients"] == 15 and 0.0 <= mg["test_auc"] <= 1.0


def test_cli_wcc_kcore_partition(spark, tmp_path):
    """CLI verbs for components, k-core, and explicit partitioning."""
    # two triangles bridged by one edge
    (tmp_path / "g.dl").write_text("1 2\n2 3\n3 1\n4 5\n5 6\n6 4\n3 4\n")

    def run(*args):
        return _cli(tmp_path / "s", *args)

    run("adgr", "tg", str(tmp_path / "g.dl"))
    wcc = run("wcc", "tg")
    assert len(wcc) == 6 and len({r["component"] for r in wcc}) == 1
    # every vertex (bridge endpoints included) has degree >= 2, so the
    # 2-core is the whole graph; the 3-core peels everything (triangle
    # vertices lose the bridge edge's support once 3/4 drop below 3)
    core = run("kcore", "tg", "--k", "2")
    assert {(r["a"], r["b"]) for r in core} == {
        ("1", "2"), ("1", "3"), ("2", "3"), ("3", "4"), ("4", "5"), ("4", "6"), ("5", "6")
    }
    parts = run("partition", "tg", "--k", "2", "--algo", "community")
    assert len(parts) == 6 and all(0 <= r["pid"] < 2 for r in parts)
    # r7: --quality emits the METIS-style metrics instead of the mapping;
    # two bridged triangles split perfectly at k=2 (cut = the 1 bridge of
    # 7 edges, balance exactly 1)
    (q,) = run("partition", "tg", "--k", "2", "--algo", "community", "--quality")
    assert q["n_nodes"] == 6 and q["n_parts"] == 2
    assert abs(q["edge_cut"] - 1 / 7) < 1e-9 and q["balance"] == 1.0


def test_cli_adstrmk_drains_stream_with_triangles(spark, tmp_path):
    """CLI adstrmk: drain-mode streaming ingest of edge-JSON files with
    the incremental triangle counter (the reference's adstrmk + strian)."""

    src = tmp_path / "stream"
    src.mkdir()
    lines = []
    for base in (0, 3):
        a, b, c = base, base + 1, base + 2
        for s, d in [(a, b), (b, c), (c, a)]:
            lines.append(json.dumps({
                "source": {"id": str(s), "properties": {"id": str(s)}},
                "destination": {"id": str(d), "properties": {"id": str(d)}},
                "properties": {"type": "E"},
            }))
    (src / "batch0.jsonl").write_text("\n".join(lines[:3]) + "\n")
    (src / "batch1.jsonl").write_text("\n".join(lines[3:]) + "\n")
    res = _cli(tmp_path / "s", "adstrmk", "sg", str(src), "--strian")[-1]
    assert res == {"streamed": "sg", "edges": 6, "triangles": 2}


def test_continuation_analytics_verbs(ingested):
    """Round-4 continuation verbs on the facade: PPR stays within the
    seed's triangle, k-truss keeps the triangles at k=3, random walks
    stay 5 steps long, weighted SSSP distances are hop sums."""
    # edge-list reader keeps vertex ids as strings
    ppr = {r["node"]: r["rank"] for r in
           ingested.personalized_pagerank("pg", ["0"], iterations=8).collect()}
    assert ppr["0"] > 0 and ppr["1"] > 0 and ppr.get("10", 0.0) == 0.0
    truss = {(r["a"], r["b"]) for r in ingested.k_truss("pg", k=3).collect()}
    assert ("0", "1") in truss and len(truss) == 12
    walks = ingested.random_walks("pg", ["0", "10"], length=5).collect()
    assert len(walks) == 12  # 2 walks x 6 positions (step 0..5)
    import pyspark.sql.functions as F

    g = ingested.catalog.get("pg")
    weighted = g.edges.withColumn("weight", F.lit(2.0))
    from jasminegraph_spark.analytics import weighted_shortest_paths

    d = {r["node"]: r["distance"] for r in
         weighted_shortest_paths(weighted, "0", iterations=4).collect()}
    assert d["0"] == 0.0 and d["1"] == 2.0 and d["2"] == 2.0


def test_cli_continuation_verbs(spark, tmp_path):
    """ppr / ktruss / wsp / walks through the CLI argv surface."""
    (tmp_path / "g.dl").write_text("1 2\n2 3\n3 1\n3 4\n")

    def run(*args):
        return _cli(tmp_path / "s", *args)

    run("adgr", "cg", str(tmp_path / "g.dl"))
    ppr = run("ppr", "cg", "--sources", "1", "--iters", "4", "--top", "2")
    assert len(ppr) == 2 and all(r["rank"] > 0 for r in ppr)
    truss = run("ktruss", "cg", "--k", "3")
    assert {(r["a"], r["b"]) for r in truss} == {("1", "2"), ("1", "3"), ("2", "3")}
    wsp = run("wsp", "cg", "1", "--iters", "4")
    dist = {r["node"]: r["distance"] for r in wsp}
    assert dist["4"] == 2.0  # unit-weight fallback: hop counts
    walks = run("walks", "cg", "--sources", "1", "--length", "3")
    assert len(walks) == 4 and walks[0]["step"] == 0


def test_engine_beam_and_truncate_verbs(spark, tmp_path):
    """r9 frontend-verb parity: SEMANTIC_BEAM_SEARCH
    (JasmineGraphFrontEnd.cpp:239-243) and truncate (:306-307) through
    the engine facade."""
    from jasminegraph_spark.engine import JasmineEngine

    eng = JasmineEngine(spark, storage_path=str(tmp_path / "s"))
    p = str(tmp_path / "edges.txt")
    with open(p, "w") as f:
        f.write("1 2\n2 3\n3 4\n")
    eng.add_graph("bg", p)  # undirected path graph

    out = eng.semantic_beam_search("bg", "1", beam_width=2, hops=2)
    rows = out.collect()
    assert set(out.columns) == {"node", "score", "hop", "path"}
    hop0 = {r["node"] for r in rows if r["hop"] == 0}
    assert "1" in hop0  # query "1" embeds identically to node 1's text
    by_node = {r["node"]: r for r in rows}
    assert by_node["1"]["score"] == 1.0
    # every non-seed row extends a path by one adjacent hop
    adj = {("1", "2"), ("2", "3"), ("3", "4")}
    adj |= {(b, a) for a, b in adj}
    for r in rows:
        if r["hop"] > 0:
            assert (r["path"][-2], r["path"][-1]) in adj
    # the verb is perf-ledgered like the reference's perfdb categories
    assert eng.perf.estimate_family("bg", "semantic-beam-search") is not None

    eng.add_graph("bg2", p)
    # ADVICE r9: a directory under storage_path that merely CONTAINS a
    # nodes/ subdir but was never saved by this engine (no _meta.json
    # marker) must survive truncate
    bystander = tmp_path / "s" / "unrelated"
    (bystander / "nodes").mkdir(parents=True)
    (bystander / "nodes" / "data.txt").write_text("not a graph")
    removed = eng.truncate()
    assert removed == ["bg", "bg2"]
    assert eng.list_graphs() == []
    import os

    assert not os.path.isdir(tmp_path / "s" / "bg")
    assert os.path.isfile(tmp_path / "s" / "_perfdb.sqlite")  # ledger survives
    assert (bystander / "nodes" / "data.txt").exists()  # bystander kept
    assert eng.catalog.names() == []  # the public accessor


def test_cli_beam_and_truncate(spark, tmp_path):
    """beam + truncate through the CLI argv surface."""
    (tmp_path / "g.dl").write_text("1 2\n2 3\n3 1\n3 4\n")

    def run(*args):
        return _cli(tmp_path / "s", *args)

    run("adgr", "cg", str(tmp_path / "g.dl"))
    beam = run("beam", "cg", "1", "--width", "2", "--hops", "1")
    assert beam and any(r["node"] == "1" and r["hop"] == 0 for r in beam)
    assert all(r["path"][0] != r["node"] or r["hop"] == 0 for r in beam)
    assert run("truncate") == [{"truncated": ["cg"]}]
    assert run("lst") == []


def test_engine_scc_and_graphml_lifecycle(spark, tmp_path):
    """Engine verbs for the r5 additions: SCC on a registered graph and
    the GraphML export → add_graphml_graph import cycle."""
    from jasminegraph_spark.engine import JasmineEngine

    eng = JasmineEngine(spark)
    edges = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("3", "1"), ("3", "4")], ["src", "dst"]
    )
    p = str(tmp_path / "edges.txt")
    with open(p, "w") as f:
        for r in edges.collect():
            f.write(f"{r['src']} {r['dst']}\n")
    eng.add_graph("cyc", p, is_directed=True)
    scc = {
        (r["node"], r["component"])
        for r in eng.strongly_connected_components("cyc").collect()
    }
    assert scc == {("1", "1"), ("2", "1"), ("3", "1"), ("4", "4")}

    out = str(tmp_path / "gml")
    eng.export_graph("cyc", out, fmt="graphml")
    back = eng.add_graphml_graph("cyc2", out)
    assert back.is_directed
    assert eng.vertex_count("cyc2") == 4 and eng.edge_count("cyc2") == 4


def test_engine_msf(spark, tmp_path):
    """Engine MSF verb: unit weights fall back when the edge list has no
    weight column; forest spans with n-1 edges."""
    from jasminegraph_spark.engine import JasmineEngine

    eng = JasmineEngine(spark)
    p = str(tmp_path / "e.txt")
    with open(p, "w") as f:
        f.write("1 2\n2 3\n3 1\n4 5\n")
    eng.add_graph("g", p)
    forest = eng.minimum_spanning_forest("g").collect()
    assert len(forest) == 3  # {1,2,3} tree (2 edges) + {4,5} (1 edge)
    assert all(r["weight"] == 1.0 for r in forest)


def test_sla_admission_calibrate_admit_reject(spark, tmp_path):
    """r7 (r6 verdict ask #5): SLA admission wired into the engine entry
    points. First call with an SLA = calibration attempt (no estimate →
    admit, latency recorded); generous SLA → admit; impossible SLA →
    SlaRejectedError BEFORE any work; no SLA → never consulted."""
    import pytest as _pt

    from jasminegraph_spark.engine import JasmineEngine, SlaRejectedError

    d = tmp_path / "data"
    d.mkdir()
    lines = [f"{10*t} {10*t+1}\n{10*t+1} {10*t+2}\n{10*t} {10*t+2}" for t in range(3)]
    (d / "g.dl").write_text("\n".join(lines) + "\n")
    eng = JasmineEngine(spark, storage_path=str(tmp_path / "store"))
    eng.add_graph("sg", str(d / "g.dl"))
    assert eng.perf is not None

    # calibration: no estimate for (sg, trian) yet → admitted + recorded
    assert eng.perf.estimate("sg", "trian") is None
    assert eng.triangle_count("sg", sla_seconds=0.000001) == 3
    est = eng.perf.estimate("sg", "trian")
    assert est is not None and est > 0

    # now an impossible SLA is REJECTED before running
    with _pt.raises(SlaRejectedError, match="exceeds\n?\\s*SLA|exceeds SLA"):
        eng.triangle_count("sg", sla_seconds=0.000001)
    # generous SLA admits
    assert eng.triangle_count("sg", sla_seconds=3600.0) == 3
    # omitting the SLA never consults the ledger
    assert eng.triangle_count("sg") == 3

    # same contract on the cypher surface — r8 (ADVICE r7): the ledger key
    # carries a per-query fingerprint, so a slow calibration on query A
    # rejects A but does NOT reject a never-seen query B (B calibrates)
    q_a = "MATCH (n) RETURN count(n) AS n"
    eng.cypher("sg", q_a)  # calibrates A (always recorded when perf is on)
    with _pt.raises(SlaRejectedError):
        eng.cypher("sg", q_a, sla_seconds=0.000001)
    # whitespace-normalized text maps to the same fingerprint
    with _pt.raises(SlaRejectedError):
        eng.cypher("sg", "MATCH (n)  RETURN   count(n) AS n", sla_seconds=0.000001)
    # a different query has no history → admitted as calibration
    eng.cypher("sg", "MATCH (n) RETURN n", sla_seconds=0.000001)
    # pagerank surface
    eng.pagerank("sg", iterations=2)  # calibrates
    with _pt.raises(SlaRejectedError):
        eng.pagerank("sg", iterations=2, sla_seconds=0.000001)
