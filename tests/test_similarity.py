"""ANN operators: exactness and recall-vs-nprobe behavior on a small
deterministic corpus (pipeline.similarity)."""

import pytest
from pyspark.sql import functions as F

from jasminegraph_spark.pipeline import (
    cosine_topk,
    embedding_near_dup,
    ivf_ann,
    ivf_assign,
    jaccard_verified_dedup,
    ngram_jaccard_pairs,
    sign_lsh_ann,
)


@pytest.fixture(scope="module")
def corpus(spark):
    # 40 deterministic 8-d vectors in 4 obvious clusters around axes
    rows = []
    for i in range(40):
        axis = i % 4
        v = [0.05 * ((i * 7 + d) % 5) for d in range(8)]
        v[axis * 2] += 3.0  # strong cluster signal
        rows.append((i, [float(x) for x in v], axis))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>, label: int")
    df.cache().count()
    return df


def test_cosine_topk_exact(corpus):
    out = cosine_topk(corpus, corpus.filter(F.col("vec_id") == 0), k=3)
    rows = out.orderBy("rank").collect()
    assert [r["rank"] for r in rows] == [1, 2, 3]
    # nearest neighbors of a cluster-0 vector are cluster-0 vectors
    labels = {r["neighbor_id"] % 4 for r in rows}
    assert labels == {0}


def test_ivf_assign_deterministic(corpus):
    a1 = sorted(map(tuple, ivf_assign(corpus, n_cells=8).collect()))
    a2 = sorted(map(tuple, ivf_assign(corpus, n_cells=8).collect()))
    assert a1 == a2
    assert len(a1) == 40


def test_ivf_nprobe_recall_monotone(corpus):
    """nprobe = n_cells probes every cell → identical to brute force."""
    qs = corpus.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(corpus, qs, k=3).collect()
    }

    def recall(nprobe):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_ann(corpus, qs, k=3, n_cells=8, nprobe=nprobe).collect()
        }
        return len(got & exact) / len(exact)

    r1, r4, r8 = recall(1), recall(4), recall(8)
    assert r1 <= r4 <= r8 == 1.0


def test_lsh_ann_subset_of_bruteforce(corpus):
    qs = corpus.filter(F.col("vec_id") < 3)
    ann = sign_lsh_ann(corpus, qs, k=5, planes=4)
    exact = cosine_topk(corpus, qs, k=40)
    pairs_ann = {(r["query_id"], r["neighbor_id"], r["cosine"]) for r in ann.collect()}
    pairs_all = {(r["query_id"], r["neighbor_id"], r["cosine"]) for r in exact.collect()}
    assert pairs_ann <= pairs_all  # same scores, candidate subset


def test_kmeans_refined_ivf_recall(spark, sf_dir):
    """Lloyd-refined codebook: recall@5 ≥ 0.9 vs brute-force cosine on the
    real embeddings table at nprobe=4 of 8 cells (measured: refinement
    lifts 0.90 → 0.94 here; the first-N-by-id seed alone sits at the
    boundary. On near-isotropic vectors k-means mainly balances cell
    populations — the recall win grows with real clustered data)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, qs, k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_ann(emb, qs, k=5, n_cells=8, nprobe=4, lloyd_iters=2).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"recall@5 = {recall}"


def test_kmeans_centroids_deterministic(corpus):
    from jasminegraph_spark.pipeline import kmeans_centroids

    c1 = sorted((r["cell"], tuple(r["cv"])) for r in kmeans_centroids(corpus, 8, 2).collect())
    c2 = sorted((r["cell"], tuple(r["cv"])) for r in kmeans_centroids(corpus, 8, 2).collect())
    assert c1 == c2 and len(c1) >= 1


def _brute_near_dup_pairs(spark, sf_dir, threshold):
    """The brute-force all-pairs oracle — test-only; the shipped operator
    must never plan this shape (asserted in test_plans.py)."""
    from jasminegraph_spark.pipeline.similarity import _as_double, _dot, _norm

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("id_a"), _as_double("embedding").alias("qv"))
    b = emb.select(F.col("vec_id").alias("id_b"), _as_double("embedding").alias("cv"))
    scored = a.join(b, F.col("id_a") < F.col("id_b")).select(
        "id_a",
        "id_b",
        F.round(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 6).alias("cosine"),
    )
    return {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in scored.filter(F.col("cosine") >= threshold).collect()
    }


def test_banded_near_dup_matches_bruteforce_on_corpus(spark, sf_dir):
    """16 bands × 4 planes: full recall at τ=0.45 on the test corpus
    (sf0.001 has 7 such pairs, none above 0.48), and every reported pair
    carries the exact (identical) cosine."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_near_dup(emb, threshold=0.45, planes_per_band=4, bands=16).collect()
    }
    want = _brute_near_dup_pairs(spark, sf_dir, 0.45)
    assert got == want and len(want) >= 1


def test_jaccard_verified_matches_exact_pairs(spark, sf_dir):
    """LSH-candidate Jaccard ≥ 0.4 equals the exact all-pairs result on
    the test corpus (LSH at 16 hashes / 4 bands recalls every ≥0.4 pair
    here), with identical scores."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in jaccard_verified_dedup(docs, 16, 4, 8, threshold=0.4).collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, k=8, threshold=0.4).collect()
    }
    assert got == want and len(want) >= 1


def test_simhash_near_dup_pigeonhole_recall(spark, sf_dir):
    """bands=4 > max_hamming=3: the banded candidate stage must have 100%
    recall vs brute-force Hamming over all signature pairs (pigeonhole —
    a pair differing in ≤3 of 16 bits shares at least one clean 4-bit
    band), so the operator equals the exact answer, not an approximation."""
    from jasminegraph_spark.pipeline import simhash_near_dup, simhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dup(docs, bits=16, k=8, bands=4, max_hamming=3).collect()
    }
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs, 16, 8).collect()}
    ids = sorted(sigs)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(x != y for x, y in zip(sigs[a], sigs[b]))
            if h <= 3:
                want.add((a, b, h))
    assert got == want and len(want) >= 1


def test_dedup_corpus_survivors_are_clean(spark, sf_dir):
    """After end-to-end dedup the surviving corpus must contain no exact
    duplicates and no verified near-dup pair ≥ the threshold (any such
    pair would have been an edge of one cluster)."""
    from jasminegraph_spark.pipeline import dedup_corpus, exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    survivors = dedup_corpus(docs, threshold=0.4).cache()
    n_docs, n_surv = docs.count(), survivors.count()
    assert 0 < n_surv < n_docs  # something was actually removed
    assert exact_dedup(survivors).filter("n_dups > 1").count() == 0
    assert jaccard_verified_dedup(survivors, threshold=0.4).count() == 0
    survivors.unpersist()


# ---------------- scalar quantization (round-4) ----------------


def test_sq_encode_range_and_determinism(corpus):
    from jasminegraph_spark.pipeline import sq_encode, sq_minmax

    mm = sq_minmax(corpus)
    codes = sq_encode(corpus, mm)
    rows = codes.collect()
    assert len(rows) == 40
    for r in rows:
        assert all(0 <= c <= 255 for c in r["code"])
    # repartitioning must not change any code (pure function of values)
    again = {r["vec_id"]: r["code"] for r in sq_encode(corpus.repartition(7), mm).collect()}
    assert {r["vec_id"]: r["code"] for r in rows} == again


def test_sq_ann_recall_vs_exact(corpus):
    from jasminegraph_spark.pipeline import sq_ann

    q = corpus.filter(F.col("vec_id") < 5)
    exact = cosine_topk(corpus, q, k=3)
    approx = sq_ann(corpus, q, k=3)
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # 8-bit quantization of well-separated clusters: near-total recall
    assert len(ex & ap) / len(ex) >= 0.8


def test_sq_constant_dimension_encodes_zero(spark):
    from jasminegraph_spark.pipeline import sq_encode, sq_minmax

    df = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [1.0, 7.0])], "vec_id: long, embedding: array<double>"
    )
    mm = sq_minmax(df)
    codes = {r["vec_id"]: r["code"] for r in sq_encode(df, mm).collect()}
    assert codes[1][0] == 0 and codes[2][0] == 0  # constant dim → 0, no div0
    assert codes[1][1] == 0 and codes[2][1] == 255


def test_line_dedup_removes_boilerplate(spark):
    """Lines occurring in >= 2 distinct docs vanish; unique lines survive
    in original order; a doc of pure boilerplate survives as an empty row
    (never silent row loss); repeats WITHIN one doc are not removed."""
    from jasminegraph_spark.pipeline import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "cookie notice\nreal content one\nall rights reserved"),
            (2, "cookie notice\nreal content two\nall rights reserved"),
            (3, "cookie notice\nall rights reserved"),
            (4, "only unique text\nonly unique text"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in line_dedup(docs, min_docs=2).collect()}
    assert len(got) == 4
    assert got[1]["clean_text"] == "real content one"
    assert got[2]["clean_text"] == "real content two"
    assert got[1]["n_kept"] == 1 and got[1]["n_removed"] == 2
    assert got[3]["clean_text"] == "" and got[3]["n_kept"] == 0 and got[3]["n_removed"] == 2
    # intra-doc repetition is a repetition signal, not cross-doc boilerplate
    assert got[4]["clean_text"] == "only unique text\nonly unique text"


def test_rrf_fuse_combines_rankings(spark):
    """RRF: a doc ranked mid-list in BOTH inputs beats a doc top-ranked
    in only one (1/(60+2)+1/(60+2) > 1/(60+1)); n_lists counts
    memberships; empty input raises."""
    import pytest

    from jasminegraph_spark.pipeline import rrf_fuse

    a = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], ["doc_id", "rank"])
    b = spark.createDataFrame([(40, 1), (20, 2), (50, 3)], ["doc_id", "rank"])
    out = rrf_fuse([a, b], k=10).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert out[0]["doc_id"] == 20 and by_id[20]["n_lists"] == 2
    assert by_id[10]["n_lists"] == 1
    assert abs(by_id[20]["rrf_score"] - 2 / 62) < 1e-12
    with pytest.raises(ValueError):
        rrf_fuse([])


def test_pca_project_matches_numpy(spark):
    """Distributed partial-Gram PCA == numpy PCA on the same data:
    explained variance ratios match, projections match up to the fixed
    sign, and the first component captures the dominant direction."""
    import numpy as np

    from jasminegraph_spark.pipeline import pca_project

    rng = np.random.RandomState(7)
    # anisotropic cloud: variance concentrated in one known direction
    base = rng.randn(200, 4) * np.array([10.0, 2.0, 0.5, 0.1])
    rows = [(i, [float(x) for x in base[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    projected, info = pca_project(df, n_components=2)
    assert info["n_rows"] == 200
    # numpy reference
    c = base - base.mean(axis=0)
    cov = (c.T @ c) / 200
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:2]
    ref_ratio = evals[order] / evals.sum()
    assert np.allclose(info["explained_ratio"], ref_ratio, atol=1e-9)
    assert info["explained_ratio"][0] > 0.9  # dominant axis
    got = {r["vec_id"]: np.array(r["pca"]) for r in projected.collect()}
    comps = evecs[:, order].T.copy()
    for comp in comps:
        if comp[np.argmax(np.abs(comp))] < 0:
            comp *= -1
    ref = c @ comps.T
    for i in range(200):
        assert np.allclose(got[i], ref[i], atol=1e-9), i


def test_embedding_hygiene_flags(spark):
    """Each failure mode gets its own flag; clean vectors pass."""
    from jasminegraph_spark.pipeline import embedding_hygiene

    rows = [(i, [1.0, 1.0, 1.0]) for i in range(20)]        # clean
    rows += [
        (100, [1.0, 1.0]),                                  # bad_dim
        (101, [float("nan"), 1.0, 1.0]),                    # non_finite
        (102, [0.0, 0.0, 0.0]),                             # zero_norm
        (103, [1000.0, 1000.0, 1000.0]),                    # norm_outlier
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    got = {r["vec_id"]: r["flag"] for r in embedding_hygiene(df, expected_dim=3).collect()}
    assert got[100] == "bad_dim"
    assert got[101] == "non_finite"
    assert got[102] == "zero_norm"
    assert got[103] == "norm_outlier"
    assert all(got[i] == "ok" for i in range(20))


def test_knn_classify_majority_and_tie(spark):
    """Majority label wins; a 2-2 vote tie (k=4) breaks to the min label;
    the query's own row never votes."""
    from jasminegraph_spark.pipeline import knn_classify

    rows = [
        # query 0 at the origin axis; 4 near neighbors: labels 1,1,2,2
        (0, [1.0, 0.0, 0.0], 9),
        (1, [0.99, 0.1, 0.0], 1),
        (2, [0.98, 0.15, 0.0], 1),
        (3, [0.97, 0.2, 0.0], 2),
        (4, [0.96, 0.25, 0.0], 2),
        # far away, opposite direction — must not be chosen at k=4
        (5, [-1.0, 0.0, 0.0], 7),
        # query 10: 3-of-4 majority for label 3
        (10, [0.0, 1.0, 0.0], 9),
        (11, [0.1, 0.99, 0.0], 3),
        (12, [0.15, 0.98, 0.0], 3),
        (13, [0.2, 0.97, 0.0], 3),
        (14, [0.25, 0.96, 0.0], 4),
    ]
    df = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>, label: int"
    )
    queries = df.filter("vec_id IN (0, 10)")
    got = {
        r["query_id"]: r["pred_label"]
        for r in knn_classify(df, queries, k=4).collect()
    }
    assert got[0] == 1    # 2-2 tie between labels 1 and 2 → min label
    assert got[10] == 3   # 3-1 majority


def test_substring_duplicate_spans(spark):
    """Exact-substring span detection: span lengths are exact, multiple
    occurrences count as separate spans, capped shingles drop boilerplate
    pairs, and non-overlapping docs never pair."""
    from jasminegraph_spark.pipeline import substring_duplicate_spans

    common = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + common + " gamma delta"),
            (2, "x1 x2 x3 " + common + " y1 y2"),
            (3, "totally different content here with nothing shared at all ok"),
            (4, common + " tail " + common),
        ],
        ["doc_id", "text"],
    )
    out = {
        (r["id_a"], r["id_b"]): (r["max_span_tokens"], r["n_spans"])
        for r in substring_duplicate_spans(docs, k=8, min_span=10).collect()
    }
    assert out == {(1, 2): (20, 1), (1, 4): (20, 2), (2, 4): (20, 2)}

    # min_span above the shared span length → no pairs
    assert not substring_duplicate_spans(docs, k=8, min_span=21).take(1)

    # boilerplate cap: the shared span appears in 3 docs (5 shingle
    # occurrences of its middle shingles incl. doc 4's two copies); a cap
    # of 1 drops every shared shingle → no pairs survive
    assert not substring_duplicate_spans(
        docs, k=8, min_span=10, max_shingle_frequency=1
    ).take(1)


def test_mine_triplets(spark):
    """Hardest positive shares the label, hardest negative doesn't; both
    are the true argmax cosine; anchors never pick themselves."""
    import math

    from jasminegraph_spark.pipeline import mine_triplets

    vecs = {
        1: ([1.0, 0.0], "a"),
        2: ([0.9, 0.1], "a"),
        3: ([0.0, 1.0], "a"),
        4: ([0.95, 0.05], "b"),
        5: ([-1.0, 0.0], "b"),
    }
    df = spark.createDataFrame(
        [(i, v, l) for i, (v, l) in vecs.items()],
        "vec_id: long, embedding: array<double>, label: string",
    )
    out = {
        r["anchor_id"]: r
        for r in mine_triplets(df, df.filter("vec_id = 1")).collect()
    }
    r = out[1]

    def cos(x, y):
        d = sum(a * b for a, b in zip(x, y))
        return d / math.sqrt(sum(a * a for a in x)) / math.sqrt(sum(b * b for b in y))

    # hardest positive for 1 is 2 (same label, cos≈0.994) not 3 (orthogonal)
    assert r["pos_id"] == 2 and abs(r["pos_cos"] - round(cos([1, 0], [0.9, 0.1]), 6)) < 1e-9
    # hardest negative is 4 (label b, cos≈0.998), not the opposite vector 5
    assert r["neg_id"] == 4 and abs(r["neg_cos"] - round(cos([1, 0], [0.95, 0.05]), 6)) < 1e-9


def test_semantic_dedup_keeps_farthest_from_centroid(spark):
    """SemDeDup survivor rule: among semantic duplicates the member
    FARTHEST from its cluster centroid survives; singletons always keep;
    verdicts are deterministic."""
    from jasminegraph_spark.pipeline import semantic_dedup

    # centroid seeds are the 2 lowest ids (n_cells=2): v1=(1,0), v2=(0,1).
    # Cell 1 holds {1, 10, 11}, all pairwise cos ≥ 0.98; centroid-cos
    # order is 1 (=1.0) > 10 (≈0.993) > 11 (≈0.984), so ONLY v11 — the
    # farthest from the centroid — survives. Cell 2 holds {2, 20} with
    # cos ≈ 0.994; v20 is farther → survives, v2 drops.
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (10, [0.9, 0.1]),
        (11, [0.88, 0.16]),
        (20, [0.1, 0.9]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r["vec_id"]: r for r in semantic_dedup(
            emb, threshold=0.98, n_cells=2
        ).collect()
    }
    assert len(out) == 5
    assert {k for k, r in out.items() if r["keep"]} == {11, 20}
    # deterministic on re-run
    again = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(emb, threshold=0.98, n_cells=2).collect()
    }
    assert again == {k: v["keep"] for k, v in out.items()}


def test_semantic_dedup_quadratic_confined_to_cells(spark):
    """The pair join must be a cell-key equi-join (never a corpus
    cartesian): no BroadcastNestedLoopJoin/CartesianProduct in the plan,
    and the centroid table broadcasts."""
    from jasminegraph_spark.pipeline import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = semantic_dedup(emb, threshold=0.3, n_cells=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # centroids broadcast for assignment; the dup pair join keys on cell
    assert "BroadcastExchange" in plan


def test_round6_half_up_matches_spark_round(spark):
    """_round6_half_up must equal Spark's round(x, 6) — HALF_UP on the
    SHORTEST decimal representation — including the boundary values
    where numpy's round-half-even on the binary double disagrees
    (ADVICE r11: a 7th significant digit that is an exact 5 can flip
    >= threshold filters and top-k rank boundaries between the UDF
    paths and the expression path / SQL oracles)."""
    import numpy as np

    from jasminegraph_spark.pipeline.similarity import _round6_half_up

    vals = [
        0.1234565,  # shortest repr ends in 5 → HALF_UP rounds AWAY
        0.1234575,  # half-even would also round up here; HALF_UP agrees
        -0.1234565,  # negative: HALF_UP rounds away from zero? (check vs Spark)
        0.9999995,
        -0.9999995,
        0.0000005,
        0.2822225,
        0.5605,  # numpy's own docs example of binary-repr surprise
        0.0,
        1.0,
        -1.0,
        0.123456789,
        0.987654321,
        -0.3333333,
    ] + [((i * 2654435761) % 2000001 - 1000000) / 1000000.0 * 0.9999997 for i in range(50)]
    got = _round6_half_up(np.array(vals, dtype=np.float64))
    exprs = ", ".join(
        f"round(cast({v!r} as double), 6)" for v in vals
    )
    want = list(spark.sql(f"SELECT {exprs}").collect()[0])
    assert len(got) == len(want)
    for v, g, w in zip(vals, got, want):
        assert g == w, f"mismatch at {v!r}: got {g!r}, spark {w!r}"


def test_cos6_degenerate_rows_yield_null(spark):
    """One bad row must not fail the Arrow batch (ADVICE r11): a null
    vector, a length-mismatched pair, or a zero-norm vector produces a
    NULL cosine (not NaN — Spark orders NaN largest, which would make a
    zero vector a near-duplicate of everything)."""
    from jasminegraph_spark.pipeline.similarity import _cos6

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0]),  # good: cosine 1
            (2, None, [1.0, 0.0]),  # null side
            (3, [1.0, 0.0, 0.0], [1.0, 0.0]),  # ragged pair
            (4, [0.0, 0.0], [1.0, 0.0]),  # zero-norm side
            (5, [0.6, 0.8], [0.6, 0.8]),  # good: cosine 1
        ],
        "id long, qv array<double>, cv array<double>",
    )
    rows = {r["id"]: r["c"] for r in df.select("id", _cos6("qv", "cv").alias("c")).collect()}
    assert rows[1] == 1.0 and rows[5] == 1.0
    assert rows[2] is None and rows[3] is None and rows[4] is None
    # degenerate rows fail every >= threshold filter (never near)
    kept = df.select("id", _cos6("qv", "cv").alias("c")).filter(F.col("c") >= 0.5)
    assert {r["id"] for r in kept.collect()} == {1, 5}


def test_cos6_nondet_call_leaves_deterministic_udf_alone(spark):
    """asNondeterministic() flips the UDF it is called on: a nondet=True
    caller must not turn the window/rank callers' deterministic UDF
    nondeterministic as well."""
    from jasminegraph_spark.pipeline import similarity as sim

    sim._cos6("qv", "cv", nondet=True)
    sim._cos6("qv", "cv")
    assert sim._COS6_UDF._unwrapped.deterministic
    assert not sim._COS6_NONDET_UDF._unwrapped.deterministic


def test_semantic_dedup_zero_norm_kept_and_inert(spark):
    """Deliberate zero-norm semantics (ADVICE r11): a zero vector is
    directionless — never a near-duplicate of anything, never drops a
    neighbor, always keep=True — and its presence leaves every other
    verdict unchanged."""
    from jasminegraph_spark.pipeline import semantic_dedup

    base = [
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (10, [0.9, 0.1]),
        (11, [0.88, 0.16]),
        (20, [0.1, 0.9]),
    ]
    emb = spark.createDataFrame(base, ["vec_id", "embedding"])
    before = {r["vec_id"]: r["keep"] for r in semantic_dedup(emb, threshold=0.98, n_cells=2).collect()}
    with_zero = spark.createDataFrame(base + [(30, [0.0, 0.0])], ["vec_id", "embedding"])
    after = {r["vec_id"]: r["keep"] for r in semantic_dedup(with_zero, threshold=0.98, n_cells=2).collect()}
    assert after.pop(30) is True
    assert after == before
