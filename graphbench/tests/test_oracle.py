import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle


def edges(*pairs):
    return np.array(pairs, dtype=np.int64)


K4 = edges((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))


def test_triangles_ignore_direction_duplicates_and_loops():
    assert oracle.triangle_count(K4) == 4
    messy = edges((1, 0), (0, 1), (1, 2), (2, 0), (2, 2), (2, 3))
    assert oracle.triangle_count(messy) == 1


def test_degree_histogram_counts_destinations():
    assert oracle.degree_histogram(np.array([1, 1, 2, 3, 3, 3])) == {1: 1, 2: 1, 3: 1}


def test_pagerank_is_uniform_on_a_cycle_and_sums_to_one():
    ring = edges((0, 1), (1, 2), (2, 3), (3, 0))
    ranks = oracle.pagerank(ring)
    assert set(ranks) == {"0", "1", "2", "3"}
    assert all(abs(r - 0.25) < 1e-12 for r in ranks.values())
    star = oracle.pagerank(edges((0, 1), (0, 2), (0, 3)))
    assert abs(sum(star.values()) - 1.0) < 1e-12
    assert star["0"] > star["1"]


def test_components_label_with_the_smallest_string_id():
    comps = oracle.components(edges((9, 10), (10, 11), (3, 4)))
    # "10" < "11" < "9" as strings, which is how the engine compares ids
    assert comps == {"9": "10", "10": "10", "11": "10", "3": "3", "4": "3"}


def test_egonet_is_the_induced_subgraph():
    g = edges((0, 1), (0, 2), (1, 2), (2, 3), (3, 4))
    adj = oracle.adjacency(oracle.simple_undirected(g))
    want = {frozenset(p) for p in (("0", "1"), ("0", "2"), ("1", "2"))}
    assert oracle.egonet(adj, 0) == want
    assert oracle.egonet(adj, 4) == {frozenset(("3", "4"))}


def test_social_oracle_sees_writes(tmp_path):
    sg = gen.social_graph(str(tmp_path), 2, 4, 4)
    o = oracle.SocialOracle(sg)
    try:
        i = int(sg.knows[0, 0])
        seek = o.expected("seek", {"i": i})
        assert seek == [(f"name{i}", str(sg.age[i]), gen.score_str(sg.score[i]))]
        outs = {f"p{d}" for s, d in sg.knows.tolist() if s == i}
        assert {r[0] for r in o.expected("hop1", {"i": i})} == outs
        new = next(j for j in range(sg.n_persons) if j != i and f"p{j}" not in outs)
        o.apply("create", {"ai": i, "bi": new})
        assert (f"p{new}",) in o.expected("hop1", {"i": i})
        o.apply("set", {"i": i, "age": "77"})
        assert o.expected("seek", {"i": i})[0][1] == "77"
        top = o.expected("topk", {"city": int(sg.city[i])})
        assert top == sorted(top, key=lambda r: r[1], reverse=True) and len(top) <= 10
        assert sum(n for _, n in o.expected("group_agg", {"industry": 0})) == \
            int(np.sum(sg.company % gen.N_INDUSTRIES == 0))
    finally:
        o.close()


def test_same_rows_respects_order_only_where_defined():
    assert oracle.same_rows("hop1", [("b",), ("a",)], [("a",), ("b",)])
    assert not oracle.same_rows("topk", [("b",), ("a",)], [("a",), ("b",)])


def test_stored_batches_reads_the_partitioned_store(tmp_path):
    d = tmp_path / "edges"
    for b, pairs in ((0, [("1", "2"), ("2", "3")]), (3, [("4", "5")])):
        part = d / f"batch_id={b}"
        part.mkdir(parents=True)
        pq.write_table(pa.table({"src": [p[0] for p in pairs], "dst": [p[1] for p in pairs]}),
                       str(part / "part-0.parquet"))
    assert oracle.stored_batches(str(d)) == {0: {("1", "2"), ("2", "3")}, 3: {("4", "5")}}
    assert oracle.stored_batches(str(tmp_path / "missing")) == {}


def test_source_batches_reads_plain_and_compacted_logs(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)

    def entry(name, b):
        return '{"path":"file:///in/%s","timestamp":1,"batchId":%d}\n' % (name, b)

    (log / "9.compact").write_text("v1\n" + entry("a.json", 0) + entry("b.json", 0)
                                   + entry("c.json", 9))
    (log / "10").write_text("v1\n" + entry("d.json", 10))
    (log / ".10.crc").write_text("x")
    assert oracle.source_batches(str(tmp_path)) == {
        0: {"a.json", "b.json"}, 9: {"c.json"}, 10: {"d.json"}}
