"""Similarity search over an embedding column (array<float>).

Mirrors the reference's vector surface — per-node embeddings in a FAISS
IndexFlatL2 per partition (src/vectorstore/FaissIndex.h:20-53,
TextEmbedder.h:29-42) — re-expressed as DataFrame ops:

 * :func:`cosine_topk` — brute-force exact top-k (IndexFlat equivalent).
 * :func:`sign_lsh_ann` — bucketed approximate path: sign-quantization
   LSH buckets (the leading dimensions' sign pattern), search within the
   query's bucket only. At 100 TB the bucket column becomes the storage
   partition key so a query touches one partition.

Assignment-time math is built-in expressions (zip_with/aggregate fold);
the HOT pair-scoring cosine is an Arrow-vectorized Pandas UDF (r11):
Spark's higher-order functions are interpreted, not whole-stage-codegen'd,
so per-candidate-pair zip_with+aggregate dots dominated every ANN/dedup
row — one numpy einsum per Arrow batch replaces them at identical
round-6 values (NULL for zero norms / null / ragged rows on both the UDF
and the try_divide expression path — degenerate vectors are never near
anything). Scores are rounded to 6 digits so rank boundaries are
portable; the UDF rounds HALF_UP on the shortest decimal representation
(:func:`_round6_half_up`), bit-identical to Spark's round().
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col: str):
    return F.expr(f"transform({col}, x -> cast(x as double))")


# built lazily (pandas_udf needs an active session), and built TWICE:
# asNondeterministic() flips the UDF it is called on, so one shared
# instance would turn every deterministic caller nondeterministic too
_COS6_UDF = None
_COS6_NONDET_UDF = None


def _round6_half_up(c: np.ndarray) -> np.ndarray:
    """round(x, 6) matching Spark's Round expression EXACTLY: HALF_UP on
    the shortest decimal representation of the double
    (``BigDecimal.valueOf(d).setScale(6, HALF_UP)``). ``np.round`` is
    round-half-even on the binary value — it agrees everywhere except
    when the scaled value sits within ~1 ulp of a .5 boundary, so the
    fast vectorized path runs everywhere and only those boundary
    elements take the exact decimal-string path (``repr`` of a Python
    float is the same shortest round-trip decimal as
    ``Double.toString``). NaN/inf pass through untouched."""
    out = np.round(c, 6)
    with np.errstate(invalid="ignore"):
        scaled = c * 1e6
        frac = np.abs(scaled - np.trunc(scaled))
        risky = np.isfinite(c) & (np.abs(frac - 0.5) < 1e-6)
    if risky.any():
        from decimal import ROUND_HALF_UP, Decimal

        quantum = Decimal("0.000001")
        out[risky] = [
            float(Decimal(repr(float(v))).quantize(quantum, rounding=ROUND_HALF_UP))
            for v in np.atleast_1d(c[risky])
        ]
    return out


def _cos6(a: str, b: str, nondet: bool = False):
    """round(cos(a, b), 6) for the quadratic pair-scoring stages.

    Degenerate inputs yield NULL, never an exception and never NaN: a
    null vector, a length-mismatched pair, or a zero-norm vector on
    either side produces a null cosine (one bad row must not fail the
    whole Arrow batch, and Spark orders NaN LARGEST so a NaN here would
    make a zero vector a near-duplicate of everything — null instead
    fails every ``>= threshold`` filter and sorts last under
    ``desc``, i.e. degenerate vectors are never near anything).

    ``nondet=True`` (r14, guide §4.4): callers whose OUTPUT column also
    feeds a filter (``cosine >= threshold``) must pass it — Catalyst
    pushes the filter below the projection and duplicates the UDF (two
    ArrowEvalPython nodes; every surviving pair pays the einsum twice).
    Marking the expression non-deterministic forbids the duplication;
    the function itself is pure, so results are unchanged. Callers that
    only window/rank over the column keep the deterministic default
    (non-determinism would block their own legitimate pushdowns)."""
    global _COS6_UDF, _COS6_NONDET_UDF
    if _COS6_UDF is None:

        def _cos6_batch(x_s: pd.Series, y_s: pd.Series) -> pd.Series:
            n = len(x_s)
            if n == 0:
                return pd.Series([], dtype="float64")
            xv = x_s.to_numpy()
            yv = y_s.to_numpy()
            ok = np.fromiter(
                (
                    a is not None and b is not None and len(a) == len(b) and len(a) > 0
                    for a, b in zip(xv, yv)
                ),
                dtype=bool,
                count=n,
            )
            out = np.full(n, np.nan)
            if ok.any():
                dims = {len(a) for a in xv[ok]}
                if len(dims) == 1:
                    x = np.stack(xv[ok]).astype(np.float64)
                    y = np.stack(yv[ok]).astype(np.float64)
                    denom = np.linalg.norm(x, axis=1) * np.linalg.norm(y, axis=1)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        c = np.einsum("ij,ij->i", x, y) / denom
                    c[denom == 0.0] = np.nan  # zero-norm → null downstream
                else:
                    # mixed dimensionalities across rows (pathological
                    # corpus): per-row BLAS, no stacking
                    c = np.full(int(ok.sum()), np.nan)
                    for i, (a, b) in enumerate(zip(xv[ok], yv[ok])):
                        av = np.asarray(a, dtype=np.float64)
                        bv = np.asarray(b, dtype=np.float64)
                        d = np.linalg.norm(av) * np.linalg.norm(bv)
                        if d > 0.0:
                            c[i] = float(av @ bv) / d
                out[ok] = _round6_half_up(c)
            res = pd.Series(out, dtype="Float64")
            res[np.isnan(out)] = pd.NA  # NaN only arises from degenerate rows
            return res

        _COS6_UDF = F.pandas_udf(_cos6_batch, "double")
        _COS6_NONDET_UDF = F.pandas_udf(_cos6_batch, "double").asNondeterministic()
    fn = _COS6_NONDET_UDF if nondet else _COS6_UDF
    return fn(F.col(a), F.col(b))


def _dot(a: str, b: str):
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0 as double), (acc, v) -> acc + v)")


def _norm(col: str):
    return F.sqrt(F.expr(f"aggregate(transform({col}, x -> x * x), cast(0 as double), (acc, v) -> acc + v)"))


def _cos_expr(a: str, b: str):
    """Pure-expression cosine with the same degenerate semantics as
    :func:`_cos6`: a zero-norm side yields NULL (``try_divide``), never
    a NaN and never an ANSI DIVIDE_BY_ZERO error — degenerate vectors
    fail every ``>= threshold`` filter and sort last under ``desc``."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: for each query vector, the k nearest
    corpus vectors. Returns (query_id, neighbor_id, cosine, rank).

    The query side is broadcast (queries ≪ corpus); the corpus side
    streams — one pass, no shuffle of the corpus. rank ties break on
    neighbor id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            # expression, not _cos6: few queries → few pairs; the Arrow
            # round-trip costs more than the interpreted fold here (A/B
            # r11: 0.34 s expr vs 0.65 s UDF at sf0.1)
            F.round(_cos_expr("qv", "cv"), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_classify(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN label prediction: each query vector takes the majority label
    of its k nearest (cosine) corpus neighbors, ties broken by min label.
    Returns (query_id, pred_label).

    The labeled-ANN application of the similarity stack: neighbor search
    is :func:`cosine_topk` (queries broadcast, corpus streamed once); the
    |Q|·k neighbor frame is then tiny and is BROADCAST back onto the
    corpus label table — the corpus is never shuffled."""
    nn = cosine_topk(embeddings, queries, k=k, id_col=id_col, vec_col=vec_col)
    lab = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nbr_label")
    )
    votes = (
        lab.join(F.broadcast(nn.select("query_id", "neighbor_id")), "neighbor_id")
        .groupBy("query_id", "nbr_label")
        .agg(F.count("*").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("nbr_label"))
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("nbr_label").alias("pred_label"))
    )


def sign_lsh_buckets(
    embeddings: DataFrame, planes: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Sign-quantization bucket id: the sign pattern of the first ``planes``
    dimensions as a bit-string. Deterministic, engine-portable, and a valid
    LSH family for cosine on roughly isotropic embeddings."""
    bucket = F.concat_ws(
        "",
        F.expr(
            f"transform(slice({vec_col}, 1, {planes}), x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END)"
        ),
    )
    return embeddings.select(F.col(id_col).alias("vec_id"), bucket.alias("bucket"))


def banded_sign_buckets(
    embeddings: DataFrame,
    planes_per_band: int = 4,
    bands: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table sign-LSH: band ``b`` hashes dimensions
    [b·r, b·r + r) into their sign pattern. Returns (vec_id, band, sig) —
    ``bands`` rows per vector. Two vectors are candidates when any band
    matches; more bands → higher recall, more planes per band → smaller
    buckets. For cosine ≥ τ the per-band collision probability is
    (1 − θ/π)^r, so pick r by the target threshold (r=4 catches τ≈0.5;
    near-dup thresholds τ≥0.9 afford r=8..16 for much tighter buckets)."""
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "",
                F.expr(
                    f"transform(slice({vec_col}, {b * planes_per_band + 1}, "
                    f"{planes_per_band}), x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END)"
                ),
            ).alias("sig"),
        )
        for b in range(bands)
    ]
    return embeddings.select(
        F.col(id_col).alias("vec_id"), F.explode(F.array(*band_cols)).alias("bs")
    ).select("vec_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.5,
    planes_per_band: int = 4,
    bands: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs: banded sign-LSH candidate
    generation → exact cosine verification ≥ ``threshold``.

    This is the 100 TB shape (reference buckets vectors in per-partition
    FAISS indexes — vectorstore/FaissIndex.h:20-53): candidates come from
    a uniform-key bucket equi-join (cost Σ|bucket|², never corpus²), and
    the exact cosine runs only on candidates. The brute-force all-pairs
    plan (BroadcastNestedLoopJoin on id_a < id_b) exists only as the test
    oracle. Returns (id_a, id_b, cosine) with id_a < id_b.
    """
    banded = banded_sign_buckets(embeddings, planes_per_band, bands, id_col, vec_col)
    l = banded.select(F.col("vec_id").alias("id_a"), "band", "sig")
    r = banded.select(F.col("vec_id").alias("id_b"), "band", "sig")
    cands = (
        l.join(r, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = embeddings.select(F.col(id_col).alias("id_a"), _as_double(vec_col).alias("qv"))
    vb = embeddings.select(F.col(id_col).alias("id_b"), _as_double(vec_col).alias("cv"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            # nondet (guide §4.4): the threshold filter below otherwise
            # duplicates the UDF into two ArrowEvalPython nodes
            _cos6("qv", "cv", nondet=True).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    lloyd_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al., arXiv:2303.09540):
    cluster the embedding corpus, find within-cluster pairs whose cosine
    exceeds ``threshold``, and keep ONE representative per duplicate
    neighborhood — the paper's rule: among semantic duplicates, the
    example FARTHEST from its cluster centroid survives (it carries the
    most marginal information), ties broken by lower id.

    A vector is dropped iff some same-cell neighbor with cosine ≥
    threshold outranks it (strictly lower centroid-cosine, or equal and
    lower id) — a one-pass dominance rule, no transitive closure, so the
    whole verdict is a deterministic pure function of the corpus and is
    SQL-replayable. Returns (vec_id, cell, cent_cos, keep). Zero-norm or
    null embeddings are directionless: they are never near-duplicates of
    anything, never drop a neighbor, and always come back keep=True
    (see the kernel comment below — this is deliberate and tested).

    Scale shape (the paper runs this at LAION-5B): the quadratic work is
    confined WITHIN cells — Σ|cell|², never corpus² — and n_cells grows
    with the corpus to hold cell size constant (SemDeDup uses 110k
    clusters at 5B rows). Centroids broadcast; assignment is one
    argmax-cosine pass; the pair join is a cell-key equi-join.
    """
    cents = kmeans_centroids(embeddings, n_cells, lloyd_iters, id_col, vec_col)
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("qv")
    )
    scored = corpus.join(F.broadcast(cents)).select(
        "vec_id",
        "cell",
        "qv",
        _cos_expr("qv", "cv").alias("cent_cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cent_cos"), F.asc("cell"))
    assign = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell", F.round("cent_cos", 6).alias("cent_cos"), "qv")
    )
    # Within-cell quadratic stage as ONE vectorized gram matrix per cell
    # (r11): the former pair equi-join evaluated interpreted
    # higher-order-function expressions (zip_with + aggregate are not
    # whole-stage-codegen'd) per pair — Σ|cell|² interpreted dots
    # dominated the row. applyInPandas gets each cell as an Arrow batch
    # and numpy computes the full cosine matrix in one BLAS call; cells
    # are independent, so parallelism is per-cell — exactly SemDeDup's
    # own scale shape (cell count grows with the corpus, cell size stays
    # bounded). round-6 absorbs the float reassociation exactly as it
    # does for the DuckDB oracle's own summation order.
    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def _cell_dominance(pdf: pd.DataFrame) -> pd.DataFrame:
        # Degenerate-vector semantics (deliberate, tested): a null/empty
        # or zero-norm embedding has no direction, so it is NEVER a near
        # duplicate of anything and never drops a neighbor — its keep is
        # always True. (The pre-r11 pure-expression path gave such rows
        # NaN cosine, which Spark orders LARGEST, silently making a zero
        # vector a duplicate of every cell-mate; the zero-substitution
        # here is the intended behavior, and its NaN cent_cos from the
        # assignment stage compares False below, so it neither outranks
        # nor is outranked.)
        qv = pdf["qv"].to_numpy()
        valid = np.fromiter(
            (v is not None and len(v) > 0 for v in qv), dtype=bool, count=len(qv)
        )
        # the cell's working dimensionality is the MAJORITY length: a
        # single off-dimension outlier is degenerate (zeroed → inert,
        # keep=True) and must not flip the whole cell's dedup off, which
        # a max() here would (one longer row would zero every row of the
        # majority length)
        from collections import Counter

        length_counts = Counter(len(v) for v in qv[valid])
        dim = length_counts.most_common(1)[0][0] if length_counts else 0
        x = np.zeros((len(qv), dim))
        for i, v in enumerate(qv):
            if valid[i] and len(v) == dim:
                x[i] = np.asarray(v, dtype=np.float64)
        nrm = np.linalg.norm(x, axis=1)
        nrm[nrm == 0.0] = 1.0  # zero rows stay all-zero → cosine 0, never near
        g = _round6_half_up((x / nrm[:, None]) @ (x / nrm[:, None]).T)
        ca = pdf["cent_cos"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        near = g >= thr
        np.fill_diagonal(near, False)
        outranked = (ca[None, :] < ca[:, None]) | (
            (ca[None, :] == ca[:, None]) & (ids[None, :] < ids[:, None])
        )
        dropped = (near & outranked).any(axis=1)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": pdf["cell"].to_numpy(),
                "cent_cos": ca,
                "keep": ~dropped,
            }
        )

    return assign.groupBy("cell").applyInPandas(
        _cell_dominance, "vec_id long, cell long, cent_cos double, keep boolean"
    )


def _centroids(
    embeddings: DataFrame, n_cells: int, id_col: str, vec_col: str
) -> DataFrame:
    """(cell, cv) — the deterministic coarse-quantizer codebook."""
    return (
        embeddings.orderBy(F.asc(id_col))
        .limit(n_cells)
        .select(F.col(id_col).alias("cell"), _as_double(vec_col).alias("cv"))
    )


def _assign_cells(corpus: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell): argmax-cosine assignment of corpus (vec_id, qv)
    against the broadcast centroid table (cell, cv)."""
    scored = corpus.join(F.broadcast(cents)).select(
        "vec_id",
        "cell",
        _cos_expr("qv", "cv").alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell")
    )


def kmeans_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    lloyd_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF codebook: deterministic first-``n_cells``-by-id seed, optionally
    refined by ``lloyd_iters`` Lloyd (k-means) rounds — assign every
    vector to its nearest centroid, recompute each cell's mean vector.
    1-2 rounds substantially tighten cells vs the raw seed (FAISS trains
    its IVF coarse quantizer the same way); the seed stays deterministic
    so refined centroids are too. Each round is one broadcast-assign pass
    + one posexplode/groupBy mean — no driver-side vectors."""
    cents = _centroids(embeddings, n_cells, id_col, vec_col)
    if lloyd_iters <= 0:
        return cents
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("qv")
    ).persist()
    for _ in range(lloyd_iters):
        assign = _assign_cells(corpus, cents)
        means = (
            assign.join(corpus, "vec_id")
            .select("cell", F.posexplode("qv").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
        )
        cents = (
            means.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("cv")
            )
        )
    from jasminegraph_spark.cache import finalize

    return finalize(cents, corpus)


def ivf_assign(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    cell. Centroids are the ``n_cells`` lowest-id vectors (optionally
    k-means-refined — see kmeans_centroids); deterministic and
    engine-portable. Returns (vec_id, cell).

    The centroid table is tiny → broadcast; assignment is one pass over
    the corpus with an argmax over n_cells cosines (codegen expression).
    At 100 TB ``cell`` becomes the storage partition key, so a probe scans
    |corpus|/n_cells rows.
    """
    cents = kmeans_centroids(embeddings, n_cells, lloyd_iters, id_col, vec_col)
    corpus = embeddings.select(F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("qv"))
    return _assign_cells(corpus, cents)


def ivf_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: exact cosine rank within the query's
    ``nprobe`` nearest cells. Returns (query_id, neighbor_id, cosine,
    rank). Recall grows with nprobe while scan cost stays
    nprobe·|corpus|/n_cells — the standard FAISS IVF recall/latency knob
    (reference serves FAISS IndexFlatL2, vectorstore/FaissIndex.h:20-53).
    ``lloyd_iters`` k-means rounds refine the codebook (recall at the same
    nprobe); corpus assignment and query probing share the refined cells.
    """
    cents = kmeans_centroids(embeddings, n_cells, lloyd_iters, id_col, vec_col)
    corpus_vecs = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("qv")
    )
    assign = _assign_cells(corpus_vecs, cents)
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).join(assign.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    # query side probes its nprobe nearest cells (nprobe=1 ≡ its own cell)
    qraw = queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv"))
    qscored = qraw.join(F.broadcast(cents)).select(
        "query_id", "qv", "cell",
        _cos_expr("qv", "cv").alias("sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cell"))
    qs = (
        qscored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "cell")
    )
    scored = (
        corpus.join(F.broadcast(qs), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cos6("qv", "cv").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def sign_lsh_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket, then
    exact cosine rank within the bucket. The bucket equi-join replaces the
    cross join — the scan cost drops from |corpus| to |bucket|."""
    b = sign_lsh_buckets(embeddings, planes, id_col, vec_col)
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).join(b.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    qs = queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")).join(
        b.withColumnRenamed("vec_id", "query_id"), "query_id"
    )
    scored = (
        corpus.join(F.broadcast(qs), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cos6("qv", "cv").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def sq_minmax(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Global per-dimension (min, max) calibration for scalar
    quantization, as ONE row (mins array<double>, maxs array<double>).
    One posexplode + one tiny groupBy(dim); the result broadcasts."""
    ex = embeddings.select(F.posexplode(_as_double(vec_col)).alias("pos", "x"))
    mm = ex.groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    return mm.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s["mn"]
        ).alias("mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s["mx"]
        ).alias("maxs"),
    )


def sq_encode(
    embeddings: DataFrame,
    minmax: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """int8-range scalar quantization: code_i = round((x_i − min_i) /
    (max_i − min_i) · 255) — 4× memory vs float32, 8× vs float64; the
    calibration row broadcasts, encoding is a pure map expression.
    Constant dimensions (max = min) encode as 0. Returns (id, code
    array<int>)."""
    enc = F.expr(
        "transform(sequence(0, size(_v) - 1), i -> CASE "
        "WHEN maxs[i] = mins[i] THEN 0 "
        "ELSE cast(round((_v[i] - mins[i]) / (maxs[i] - mins[i]) * 255, 0) as int) "
        "END)"
    )
    return (
        embeddings.select(F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("_v"))
        .join(F.broadcast(minmax))
        .select("vec_id", enc.alias("code"))
    )


def sq_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by asymmetric scalar-quantized distance: the
    corpus is int8-encoded (the form it would live in at 100 TB — the
    full-precision corpus never loads), queries stay full-precision, and
    cosine runs against the dequantized reconstruction
    x̂_i = min_i + code_i/255 · (max_i − min_i).

    Same plan shape as exact cosine_topk (broadcast queries, one corpus
    pass, per-query rank window) — only the corpus operand is 8× smaller.
    Returns (query_id, neighbor_id, cosine, rank ≤ k)."""
    mm = sq_minmax(embeddings, vec_col)
    codes = sq_encode(embeddings, mm, id_col, vec_col)
    deq = F.expr(
        "transform(sequence(0, size(code) - 1), i -> "
        "mins[i] + cast(code[i] as double) / 255 * (maxs[i] - mins[i]))"
    )
    c = codes.join(F.broadcast(mm)).select(
        F.col("vec_id").alias("neighbor_id"), deq.alias("cv")
    )
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cos6("qv", "cv").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def rrf_fuse(
    rankings: list,
    id_col: str = "doc_id",
    k: int = 20,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of retrieval lists (the standard hybrid-
    search combiner: BM25 lexical + dense ANN, fused WITHOUT score
    calibration): fused(d) = Σ_lists 1 / (c + rank_list(d)).

    Each input must already carry an integer ``rank`` column (1-based,
    deterministically tie-broken, as bm25_topk/cosine_topk emit or a
    row_number produces). Inputs are top-N lists — bounded frames — so
    the fusion is a union + one tiny groupBy + TakeOrdered regardless of
    corpus size; RRF scores are sums of exact rationals of small ints,
    so fusion is engine-reproducible wherever the input ranks are.

    Returns (id_col, n_lists, rrf_score) for the fused top k.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(F.col(id_col), (F.lit(1.0) / (F.lit(c) + F.col("rank"))).alias("rr"))
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy(id_col)
        .agg(F.count("*").alias("n_lists"), F.sum("rr").alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )


def _covariance(src: DataFrame):
    """Distributed covariance of an array<double> column ``v``: mapInPandas
    computes per-Arrow-batch partial Gram sums (numpy outer products,
    executor-side) emitting d² (i, j, s) cells per batch; one groupBy
    reduces them and only d² scalars reach the driver (d=64 → 4096 rows,
    regardless of corpus size). The dimension is inferred from the first
    batch each task sees — no separate driver job. Returns
    (cov ndarray d×d, mean ndarray d, n_rows, dim)."""
    import numpy as np
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("s", T.DoubleType()),
            T.StructField("n", T.LongType()),
            T.StructField("colsum", T.DoubleType()),
        ]
    )

    def partial_gram(batches):
        import pandas as pd

        for pdf in batches:
            x = np.array(pdf["v"].tolist(), dtype=np.float64)
            if x.size == 0:
                continue
            d = x.shape[1]
            g = x.T @ x
            cs = x.sum(axis=0)
            i, j = np.meshgrid(range(d), range(d), indexing="ij")
            yield pd.DataFrame(
                {
                    "i": i.ravel(),
                    "j": j.ravel(),
                    "s": g.ravel(),
                    "n": len(x),
                    "colsum": np.where(i.ravel() == j.ravel(), cs[i.ravel()], 0.0),
                }
            )

    parts = (
        src.select("v")
        .mapInPandas(partial_gram, schema=out_schema)
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"), F.sum("colsum").alias("colsum"))
        .collect()
    )
    if not parts:
        raise ValueError("covariance of an empty embedding frame")
    dim = max(r["i"] for r in parts) + 1
    # each batch stamps its row count on all d² cells, so after the
    # (i, j) reduction every cell's n equals the total row count
    n_rows = int(sum(r["n"] for r in parts) / (dim * dim))
    gram = np.zeros((dim, dim))
    mean = np.zeros(dim)
    for r in parts:
        gram[r["i"], r["j"]] = r["s"]
        if r["i"] == r["j"]:
            mean[r["i"]] = r["colsum"]
    mean /= n_rows
    cov = gram / n_rows - np.outer(mean, mean)
    return cov, mean, n_rows, dim


def pca_invariants(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Oracle-checkable invariants of the PCA covariance pipeline: a 1-row
    frame (n_rows, dim, trace) where trace = Σ eigenvalues of the
    covariance — computed HERE from numpy.eigh over the distributed
    partial-Gram covariance, while a SQL oracle computes the same number
    directly as Σ_i var_pop(x_i) from the raw table. A hash match
    validates the whole mapInPandas Gram reduction + mean centering +
    eigendecomposition (trace is basis-invariant), giving the
    non-SQL-expressible eigensolver a hard driver row."""
    import numpy as np

    src = embeddings.select(_as_double(vec_col).alias("v"))
    cov, _, n_rows, dim = _covariance(src)
    evals = np.linalg.eigvalsh(cov)
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(n_rows, dim, round(float(evals.sum()), 6))],
        "n_rows long, dim int, trace double",
    )


def pca_project(
    embeddings: DataFrame,
    n_components: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """PCA dimension reduction for the embedding column (the standard
    pre-ANN compression: project d-dim vectors onto the top-k principal
    components; IVF/LSH then index the short vectors).

    Distribution strategy: the ONLY thing that crosses the cluster is
    the d×d Gram matrix — mapInPandas computes per-Arrow-batch partial
    sums (numpy outer products, executor-side), emitting d² (i, j, s)
    rows per batch; one groupBy reduces them and d² scalars reach the
    driver (d=64 → 4096 rows, regardless of corpus size). numpy.eigh on
    the d×d covariance is driver-side (microseconds); components are
    sign-fixed (largest-|coefficient| entry made positive) so the basis
    is deterministic. Projection is a second single pass.

    Returns (projected_df, info): projected_df has (id_col, pca) with
    the k-dim projected vector; info carries eigenvalues and the
    explained-variance ratios.
    """
    import numpy as np

    src = embeddings.select(F.col(id_col), _as_double(vec_col).alias("v"))
    cov, mean, n_rows, dim = _covariance(src)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:n_components]
    comps = evecs[:, order].T  # (k, d)
    evals_k = evals[order]
    # deterministic sign: largest-|x| coefficient positive
    for c in comps:
        if c[np.argmax(np.abs(c))] < 0:
            c *= -1
    total_var = float(evals.sum())
    info = {
        "eigenvalues": [float(v) for v in evals_k],
        "explained_ratio": [float(v / total_var) for v in evals_k],
        "n_rows": n_rows,
    }
    comp_lit = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in comps])
    mean_lit = F.array(*[F.lit(float(m)) for m in mean])
    centered = F.zip_with("v", mean_lit, lambda a, b: a - b)
    proj = F.transform(
        comp_lit,
        lambda c: F.aggregate(
            F.zip_with(centered, c, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    projected = src.select(F.col(id_col), proj.alias("pca"))
    return projected, info


def embedding_hygiene(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    expected_dim: int | None = None,
    norm_z_threshold: float = 4.0,
) -> DataFrame:
    """Vector-hygiene screening before indexing/training: flag rows whose
    embedding is unusable (wrong dimension, NaN/Inf components, zero
    norm) or anomalous (norm beyond ``norm_z_threshold`` robust z-scores
    from the median norm — junk inputs and double-normalized vectors
    both show up here). The standard ingest gate in front of an ANN
    index build.

    Two passes, both cheap: per-row norm/validity expressions (map-side),
    then median/MAD from ONE approximate-free exact percentile over the
    norm column (a single numeric column — percentile_approx at 100 TB,
    exact percentile at test scale for oracle parity), broadcast back.

    Returns (id_col, dim, norm, flag) with flag ∈ {'ok', 'bad_dim',
    'non_finite', 'zero_norm', 'norm_outlier'}.
    """
    v = _as_double(vec_col)
    base = embeddings.select(
        F.col(id_col),
        F.size(F.col(vec_col)).alias("dim"),
        F.sqrt(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("norm"),
        F.exists(v, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) > F.lit(1e308))).alias(
            "bad_vals"
        ),
    )
    # median + MAD need two passes (MAD is a percentile of deviations
    # from the median): compute median first, then MAD against it
    med = base.filter(~F.col("bad_vals")).agg(
        F.expr("percentile(norm, 0.5)").alias("med")
    )
    mad = (
        base.filter(~F.col("bad_vals"))
        .crossJoin(F.broadcast(med))
        .agg(
            F.expr("percentile(abs(norm - med), 0.5)").alias("mad"),
            F.first("med").alias("med"),
        )
    )
    out = base.crossJoin(F.broadcast(mad))
    dim_ok = (
        (F.col("dim") == F.lit(expected_dim)) if expected_dim is not None else F.lit(True)
    )
    # 1.4826·MAD ≈ σ for normal data. MAD = 0 (a constant-norm corpus,
    # e.g. normalized embeddings) would silence the z-score entirely —
    # fall back to a 1% relative deviation from the median there.
    outlier = F.when(
        F.col("mad") > 0,
        F.abs(F.col("norm") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
        > F.lit(norm_z_threshold),
    ).otherwise(F.abs(F.col("norm") - F.col("med")) > F.lit(0.01) * F.col("med"))
    flag = (
        F.when(~dim_ok, "bad_dim")
        .when(F.col("bad_vals"), "non_finite")
        .when(F.col("norm") == 0, "zero_norm")
        .when(outlier, "norm_outlier")
        .otherwise("ok")
    )
    return out.select(id_col, "dim", F.round("norm", 6).alias("norm"), flag.alias("flag"))


def mine_triplets(
    embeddings: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive triplet mining — for each anchor, the HARDEST POSITIVE
    (most-cosine-similar corpus vector with the SAME label, excluding the
    anchor itself) and the HARDEST NEGATIVE (most-similar vector with a
    DIFFERENT label). The (anchor, positive, negative) triples are what
    embedding-model contrastive training consumes; "hardest" examples
    carry the most gradient signal (FaceNet-style semi-hard mining's
    exact upper bound).

    Anchors broadcast, corpus streamed once (same plan family as
    cosine_topk — no corpus shuffle); per-anchor argmax via struct max
    (cosine, id), deterministic on ties. For corpus-scale anchor sets,
    feed IVF/LSH candidates in as ``embeddings`` — this operator is the
    exact scorer. Returns (anchor_id, pos_id, pos_cos, neg_id, neg_cos)
    with cosines rounded %.6f-stable.
    """
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        _as_double(vec_col).alias("qv"),
        F.col(label_col).alias("a_label"),
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("cv"),
        F.col(label_col).alias("n_label"),
    )
    scored = (
        c.crossJoin(F.broadcast(a))
        .filter(F.col("anchor_id") != F.col("neighbor_id"))
        .select(
            "anchor_id",
            "a_label",
            "n_label",
            "neighbor_id",
            _cos6("qv", "cv").alias("cos"),
        )
    )
    pick = F.struct("cos", "neighbor_id")
    agg = scored.groupBy("anchor_id").agg(
        F.max(F.when(F.col("a_label") == F.col("n_label"), pick)).alias("pos"),
        F.max(F.when(F.col("a_label") != F.col("n_label"), pick)).alias("neg"),
    )
    return agg.select(
        "anchor_id",
        F.col("pos.neighbor_id").alias("pos_id"),
        F.col("pos.cos").alias("pos_cos"),
        F.col("neg.neighbor_id").alias("neg_id"),
        F.col("neg.cos").alias("neg_cos"),
    )
