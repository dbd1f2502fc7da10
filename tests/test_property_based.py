"""Property-based checks (hypothesis): distributed results must equal
brute-force Python computations on arbitrary small graphs — a testing
dimension the reference lacks entirely (SURVEY §5: 'no property-based or
randomized testing')."""

import pytest

from itertools import combinations

from hypothesis import example, given, settings, strategies as st

edge_lists = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=0,
    max_size=30,
)


def _canon(edges):
    return {(min(a, b), max(a, b)) for a, b in edges if a != b}


@settings(max_examples=15, deadline=None)
@given(edge_lists)
def test_triangle_count_matches_bruteforce(spark, edges):
    from jasminegraph_spark.analytics import triangle_count

    und = _canon(edges)
    expected = sum(
        1
        for a, b, c in combinations(sorted({v for e in und for v in e}), 3)
        if {(a, b), (b, c), (a, c)} <= und
    )
    if not und:
        return
    df = spark.createDataFrame(list(und), ["src", "dst"])
    assert triangle_count(df) == expected


@settings(max_examples=10, deadline=None)
@given(edge_lists, st.booleans())
# string ids whose order is not their numbers' ("10" < "2" < "9")
@example([(9, 10), (10, 2), (11, 12), (3, 12)], True)
@example([(2, 10), (10, 11), (9, 11)], True)
def test_connected_components_match_union_find(spark, edges, as_text):
    """Both wcc paths, the driver's union-find and the hash-min rounds
    past the driver bound, label every vertex with the smallest id of its
    component under the id column's own order."""
    from jasminegraph_spark import topology
    from jasminegraph_spark.analytics import connected_components

    und = {(str(a), str(b)) if as_text else (a, b) for a, b in _canon(edges)}
    if not und:
        return
    # union-find ground truth
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in und:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v: find(v) for e in und for v in e}

    id_type = "string" if as_text else "long"
    df = spark.createDataFrame(list(und), f"src {id_type}, dst {id_type}")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == expected
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(topology, "DRIVER_PAIRS", 0)
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(edge_lists, st.booleans(), st.lists(st.integers(0, 13), min_size=1, max_size=3))
# self-loop-only vertices (5, 4, 11) and a seed absent from the graph (13)
@example([(1, 2), (2, 3), (5, 5), (3, 3)], False, [13, 5])
@example([(9, 10), (10, 2), (4, 4), (11, 11)], True, [10, 13])
def test_pagerank_matches_power_iteration(spark, edges, as_text, seeds):
    """Both undirected pgrnk paths, the driver's numpy iteration and the
    Spark rounds past the driver bound, match a pure-Python power
    iteration over the symmetric pairs, a self-loop counted once, for the
    uniform restart and for a seed list, whose ids match by equality as
    Spark's ``isin`` matches them on ids of their own type."""
    from test_topology import _close, ref_pagerank

    from jasminegraph_spark import topology
    from jasminegraph_spark.analytics import pagerank, personalized_pagerank

    if not edges:
        return
    conv = str if as_text else int
    edges = [(conv(a), conv(b)) for a, b in edges]
    seeds = [conv(s) for s in seeds]
    pairs = set(edges) | {(b, a) for a, b in edges}
    want = ref_pagerank(pairs, iterations=6)
    want_ppr = ref_pagerank(pairs, iterations=6, sources=seeds)

    id_type = "string" if as_text else "long"
    topo = topology.Topology.build(spark.createDataFrame(edges, f"src {id_type}, dst {id_type}"))

    def ranks(df):
        return {r["node"]: r["rank"] for r in df.collect()}

    try:
        for bound in (topology.DRIVER_PAIRS, 0):
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(topology, "DRIVER_PAIRS", bound)
                assert _close(ranks(pagerank(topo, iterations=6)), want), bound
                got = ranks(personalized_pagerank(topo, seeds, iterations=6))
                assert _close(got, want_ppr), bound
    finally:
        topo.release()


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(alphabet="abcd ", min_size=10, max_size=40), min_size=1, max_size=6))
def test_minhash_identical_texts_identical_signatures(spark, texts):
    """Documents with equal text must get byte-equal minhash signatures;
    signatures must also be permutation-invariant over shingle order."""
    from jasminegraph_spark.pipeline.dedup import minhash_signatures

    rows = [(i, t) for i, t in enumerate(texts)] + [(100 + i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = {r["doc_id"]: tuple(r[c] for c in sorted(r.asDict()) if c.startswith("mh"))
           for r in minhash_signatures(df, num_hashes=4, k=4).collect()}
    for i, t in enumerate(texts):
        if len(t) >= 4:
            assert sig[i] == sig[100 + i]


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(0, 500), min_size=1, max_size=20),
    st.lists(
        st.tuples(st.integers(0, 400), st.integers(1, 150)), min_size=1, max_size=8
    ),
)
def test_interval_join_matches_bruteforce(spark, points, spans):
    """Bucketed interval join == brute-force range scan for arbitrary
    points and [start, start+len) intervals, across bucket boundaries."""
    from jasminegraph_spark.operators.temporal import interval_join

    pdf = spark.createDataFrame(
        [(i, float(t)) for i, t in enumerate(points)], ["pid", "ts"]
    )
    idf = spark.createDataFrame(
        [(i, float(s), float(s + l)) for i, (s, l) in enumerate(spans)],
        ["iid", "start", "end"],
    )
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(pdf, idf, point_time="ts", bucket_seconds=64).collect()
    }
    want = {
        (pi, ii)
        for pi, t in enumerate(points)
        for ii, (s, l) in enumerate(spans)
        if s <= t < s + l
    }
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=1, max_size=5),
        min_size=1,
        max_size=8,
    )
)
def test_line_dedup_invariants(spark, doc_lines):
    """For arbitrary corpora: kept+removed == total lines per doc; a kept
    line never occurs in >= 2 distinct docs; clean text is exactly the
    surviving lines in order."""
    from jasminegraph_spark.pipeline import line_dedup

    docs = [(i, "\n".join(lines)) for i, lines in enumerate(doc_lines)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in line_dedup(df, min_docs=2).collect()}
    from collections import Counter

    doc_count = Counter()
    for _, lines in enumerate(doc_lines):
        for line in set(lines):
            doc_count[line] += 1
    for i, lines in enumerate(doc_lines):
        r = out[i]
        assert r["n_kept"] + r["n_removed"] == len(lines)
        survivors = [l for l in lines if doc_count[l] < 2]
        assert r["clean_text"] == "\n".join(survivors)


@settings(max_examples=8, deadline=None)
@given(edge_lists)
def test_sage_embeddings_match_bruteforce(spark, edges):
    """The 2-layer mean-aggregator SAGE encoder must equal a brute-force
    Python computation of h^{k+1} = [h^k || mean_nbr h^k] on arbitrary
    small graphs."""
    from jasminegraph_spark.analytics import sage_embeddings

    und = _canon(edges)
    if not und:
        return
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    h = {
        v: [
            float(deg[v]),
            float(sum(deg[w] for w in ns)),
            float(max(deg[w] for w in ns)),
            float(min(deg[w] for w in ns)),
        ]
        for v, ns in adj.items()
    }
    for _ in range(2):
        nxt = {}
        for v, ns in adj.items():
            means = [sum(h[w][i] for w in ns) / len(ns) for i in range(len(h[v]))]
            nxt[v] = h[v] + means
        h = nxt

    df = spark.createDataFrame(list(und), ["src", "dst"])
    emb = sage_embeddings(df, layers=2)
    cols = [c for c in emb.columns if c != "v"]
    got = {r["v"]: [r[c] for c in cols] for r in emb.collect()}
    assert set(got) == set(h)
    for v in h:
        assert all(abs(x - y) < 1e-9 for x, y in zip(got[v], h[v])), v


@settings(max_examples=6, deadline=None)
@given(edge_lists)
def test_link_example_features_match_bruteforce(spark, edges):
    """The deterministic example surface: for every returned pair, cn is
    the true common-neighbor count in the feature graph, jac its exact
    Jaccard (cn / |N(a) ∪ N(b)|), and aa the exact Adamic–Adar sum —
    validating the degree-oriented overlap join never changes a value."""
    import hashlib
    import math

    from jasminegraph_spark.analytics import link_example_features

    und = _canon(edges)
    if len(und) < 3:
        return
    fg = {
        (a, b)
        for a, b in und
        if hashlib.md5(f"{a}|{b}".encode()).hexdigest()[0] >= "6"
    }
    adj = {}
    for a, b in fg:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    df = spark.createDataFrame(list(und), ["src", "dst"])
    rows = link_example_features(df, split="test").collect()
    for r in rows:
        na, nb = adj.get(r["a"]), adj.get(r["b"])
        assert na is not None and nb is not None  # inner degree joins
        cn = len(na & nb)
        assert r["cn"] == cn
        assert abs(r["jac"] - round(cn / len(na | nb), 6)) < 1e-9
        aa = sum(1.0 / math.log(len(adj[w]) + 1e-9) for w in na & nb)
        assert abs(r["aa"] - round(aa, 6)) < 1e-9


@settings(max_examples=10, deadline=None)
@given(edge_lists)
@pytest.mark.sweep  # r14: multi-minute quality/property row -> sweep tier (see pyproject)
def test_scc_matches_tarjan(spark, edges):
    """strongly_connected_components ≡ Tarjan (iterative, pure Python)
    on arbitrary small digraphs, including DAG chains (trim path) and
    dense cyclic cores (pivot path)."""
    from jasminegraph_spark.analytics import strongly_connected_components

    dedges = sorted({(a, b) for a, b in edges if a != b})
    if not dedges:
        return
    verts = sorted({v for e in dedges for v in e})
    adj = {v: [] for v in verts}
    for a, b in dedges:
        adj[a].append(b)

    # iterative Tarjan
    index, low, onstack, comp = {}, {}, {}, {}
    stack, counter = [], [0]
    for root in verts:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                onstack[v] = True
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif onstack.get(w):
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    onstack[w] = False
                    members.append(w)
                    if w == v:
                        break
                m = min(members)
                for w in members:
                    comp[w] = m
            work.pop()
            if work:
                p, _ = work[-1]
                low[p] = min(low[p], low[v])

    df = spark.createDataFrame(dedges, ["src", "dst"])
    got = {
        (r["node"], r["component"])
        for r in strongly_connected_components(df).collect()
    }
    assert got == set(comp.items())


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 10), st.integers(1, 8)),
        min_size=1,
        max_size=25,
    )
)
@pytest.mark.sweep  # r14: multi-minute quality/property row -> sweep tier (see pyproject)
def test_msf_matches_kruskal(spark, wedges):
    """minimum_spanning_forest ≡ Kruskal under the same (w, a, b) total
    order on arbitrary small weighted graphs (multi-component,
    duplicate weights, parallel edges)."""
    from jasminegraph_spark.analytics import minimum_spanning_forest

    canon = {}
    for x, y, w in wedges:
        if x == y:
            continue
        a, b = min(x, y), max(x, y)
        wf = float(w)
        if (a, b) not in canon or wf < canon[(a, b)]:
            canon[(a, b)] = wf
    if not canon:
        return

    # Kruskal with union-find, edges ordered by (w, a, b)
    parent = {}

    def find(v):
        while parent.setdefault(v, v) != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    expected = set()
    for (a, b), w in sorted(canon.items(), key=lambda t: (t[1], t[0])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            expected.add((a, b, w))

    df = spark.createDataFrame(
        [(a, b, w) for (a, b), w in canon.items()], ["src", "dst", "weight"]
    )
    got = {
        (r["a"], r["b"], r["weight"])
        for r in minimum_spanning_forest(df).collect()
    }
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(edge_lists)
@pytest.mark.sweep  # r14: multi-minute quality/property row -> sweep tier (see pyproject)
def test_mis_independent_maximal_deterministic(spark, edges):
    """Luby MIS invariants on arbitrary small graphs: independence (no
    edge inside the set), maximality (every outside node has a selected
    neighbor), and determinism (md5 priorities ⇒ identical set on
    re-run)."""
    from jasminegraph_spark.analytics import maximal_independent_set

    und = _canon(edges)
    if not und:
        return
    df = spark.createDataFrame(list(und), ["src", "dst"])
    mis = {r["node"] for r in maximal_independent_set(df).collect()}
    assert all((min(a, b), max(a, b)) not in und for a in mis for b in mis if a != b)
    nodes = {v for e in und for v in e}
    adj = {v: set() for v in nodes}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    assert all(v in mis or (adj[v] & mis) for v in nodes)
    again = {r["node"] for r in maximal_independent_set(df).collect()}
    assert again == mis


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("xyz"), min_size=4, max_size=14),
        min_size=2,
        max_size=5,
    )
)
def test_substring_spans_match_bruteforce(spark, token_docs):
    """Longest-shared-span recovery ≡ brute-force longest common token
    substring on arbitrary small corpora (k=3, min_span=3)."""
    from jasminegraph_spark.pipeline import substring_duplicate_spans

    texts = [" ".join(toks) for toks in token_docs]
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])

    def spans(a, b):
        best = 0
        for i in range(len(a)):
            for j in range(len(b)):
                m = 0
                while i + m < len(a) and j + m < len(b) and a[i + m] == b[j + m]:
                    m += 1
                best = max(best, m)
        return best

    expected = {}
    for i in range(len(token_docs)):
        for j in range(i + 1, len(token_docs)):
            s = spans(token_docs[i], token_docs[j])
            if s >= 3:
                expected[(i, j)] = s
    got = {
        (r["id_a"], r["id_b"]): r["max_span_tokens"]
        for r in substring_duplicate_spans(
            docs, k=3, min_span=3, max_shingle_frequency=10_000
        ).collect()
    }
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(edge_lists)
@pytest.mark.sweep  # r14: multi-minute quality/property row -> sweep tier (see pyproject)
def test_node2vec_walks_match_reference(spark, edges):
    """The E-S-keyed biased transition ≡ a literal Python node2vec step
    (same α rules, same md5 keys) on arbitrary small graphs."""
    import hashlib
    import math

    from jasminegraph_spark.analytics import node2vec_walks

    und = _canon(edges)
    if not und:
        return
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    sources = sorted(adj)[:3]
    P, Q, LEN = 2.0, 0.5, 4

    def u_of(s, t, c):
        h = hashlib.md5(f"{s}:{t}:{c}".encode()).hexdigest()[:12]
        return (int(h, 16) + 1.0) / float(16**12)

    expected = []
    for s in sources:
        node, prev = s, None
        expected.append((s, 0, s))
        for t in range(LEN):
            cands = adj.get(node, set())
            if not cands:
                break
            best = None
            for c in sorted(cands):
                if prev is None:
                    alpha = 1.0
                elif c == prev:
                    alpha = 1.0 / P
                elif c in adj.get(prev, set()):
                    alpha = 1.0
                else:
                    alpha = 1.0 / Q
                key = (math.log(u_of(s, t, c)) / alpha, c)
                if best is None or key > best:
                    best = key
            prev, node = node, best[1]
            expected.append((s, t + 1, node))

    df = spark.createDataFrame(list(und), ["src", "dst"])
    got = sorted(
        (r["source"], r["step"], r["node"])
        for r in node2vec_walks(df, sources, length=LEN, p=P, q=Q).collect()
    )
    assert got == sorted(expected)


@settings(max_examples=8, deadline=None)
@given(edge_lists)
@pytest.mark.sweep  # r14: multi-minute quality/property row -> sweep tier (see pyproject)
def test_greedy_coloring_proper_and_deterministic(spark, edges):
    """Iterated-MIS coloring invariants on arbitrary small graphs:
    proper (no edge monochromatic), complete (every non-self-loop node
    colored), bounded by Δ+1, and deterministic."""
    from jasminegraph_spark.analytics import greedy_coloring

    und = {(a, b) for a, b in _canon(edges) if a != b}
    if not und:
        return
    df = spark.createDataFrame(list(und), ["src", "dst"])
    got = {r["node"]: r["color"] for r in greedy_coloring(df).collect()}
    nodes = {v for e in und for v in e}
    assert set(got) == nodes
    assert all(got[a] != got[b] for a, b in und)
    deg = {v: 0 for v in nodes}
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    assert max(got.values()) <= max(deg.values())  # ≤ Δ+1 colors (0-based)
    again = {r["node"]: r["color"] for r in greedy_coloring(df).collect()}
    assert again == got


def test_greedy_coloring_empty_edges(spark):
    """r7 regression (ADVICE r6): an empty edge frame must yield a
    correctly-typed empty (node, color) frame, not IndexError on
    parts[0] — matching the typed-empty guards in SCC and MIS."""
    from jasminegraph_spark.analytics import greedy_coloring

    empty = spark.createDataFrame([], "src string, dst string")
    out = greedy_coloring(empty)
    assert out.columns == ["node", "color"]
    assert out.count() == 0
