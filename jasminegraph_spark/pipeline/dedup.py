"""Document deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a documents
DataFrame (doc_id, text). All hashing is built on ``md5`` so results are
engine-portable (the DuckDB oracle computes byte-identical hex digests) and
deterministic across runs/partitionings — no Python UDFs anywhere; every
operator is pure Catalyst expressions + joins.

Scale notes (100 TB):
 * shingling explodes ~|text| rows per doc; the explode is map-side only
   and feeds a partial-aggregated groupBy — no shuffle of raw shingles
   beyond the hash-partitioned aggregation.
 * the naive all-pairs Jaccard join is quadratic in shingle frequency;
   minhash_lsh_candidates is the scale path: band buckets bound the
   candidate set, and the verify step runs only on candidates.
 * hot shingles (stopword-like n-grams) are skew: the LSH band join keys
   are uniformly-distributed hashes, so the bucket join does not inherit
   text skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jasminegraph_spark.cache import finalize


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via content hash: one partial-aggregated groupBy.
    Returns (content_hash, keep_id, n_dups) — keep_id is the minimum id in
    the duplicate class (deterministic representative)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def char_shingles(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    distinct: bool = True,
) -> DataFrame:
    """Character k-gram shingles per document: (doc_id, shingle).
    Pure expressions: sequence → transform → explode.

    ``distinct=False`` skips the dedup shuffle — correct for consumers
    whose aggregate is duplicate-insensitive (min for minhash, set-collect
    for fingerprints); Jaccard set semantics need distinct=True."""
    out = docs.filter(F.length(text_col) >= k).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.expr(
                f"transform(sequence(1, length({text_col}) - {k - 1}), i -> substring({text_col}, i, {k}))"
            )
        ).alias("shingle"),
    )
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 8,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    max_doc_frequency: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity ≥ threshold.

    Exact but quadratic in per-shingle frequency when unbounded — the
    small-corpus / verification path. With ``max_doc_frequency`` set,
    shingles appearing in more than that many documents are dropped BEFORE
    the self-join and the similarity is computed over the filtered shingle
    sets (stop-shingle-removed Jaccard): cost becomes ≤ cap × |shingles|,
    linear in shingle volume — the registered / at-scale shape. Returns
    (id_a, id_b, jaccard) with id_a < id_b and jaccard rounded to 6 digits
    (portable float compare).
    """
    sh = char_shingles(docs, k, id_col)
    if max_doc_frequency is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_doc_frequency)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    k: int = 8,
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: num_hashes columns mh0..mhN-1.

    Hash family i = hex window i of md5(shingle): ONE md5 per shingle, 16
    overlapping 8-hex-char (32-bit) windows of the 128-bit digest — md5's
    diffusion makes the windows independent hash functions, at 1/16th the
    hashing cost of md5(i || shingle) per component. The signature
    component is the *minimum window string* — min over a uniform hex
    image, engine-portable (no engine-specific 64-bit hash). One exploded
    pass, one partial-aggregated groupBy computing all mins at once.
    """
    if num_hashes > 25:
        raise ValueError("window family supports ≤ 25 components per md5")
    if shingles is None:
        shingles = char_shingles(docs, k, id_col, distinct=False)  # min is dup-insensitive
    sh = shingles.withColumn("h", F.md5("shingle"))
    aggs = [
        F.min(F.substring("h", i + 1, 8)).alias(f"mh{i}") for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 8,
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: split the signature into ``bands`` bands of
    ``num_hashes/bands`` rows; docs agreeing on any full band are
    candidates. Returns distinct (id_a, id_b), id_a < id_b.

    The band join key is (band_index, concatenated band signature) — a
    uniform hash key, so the self-join is skew-free and linear in bucket
    sizes rather than corpus-quadratic.
    """
    rows_per_band = num_hashes // bands
    # both sides of the bucket self-join read the signatures: persist so
    # the shingle+md5 pipeline runs once, not twice
    sig = minhash_signatures(docs, num_hashes, k, id_col, shingles).persist()
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]).alias(
                "sig"
            ),
        )
        for b in range(bands)
    ]
    banded = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )
    l = banded.select(F.col("doc_id").alias("id_a"), "band", "sig")
    r = banded.select(F.col("doc_id").alias("id_b"), "band", "sig")
    pairs = (
        l.join(r, ["band", "sig"]).filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b").distinct()
    )
    return finalize(pairs, sig)


def simhash_near_dup(
    docs: DataFrame,
    bits: int = 16,
    k: int = 8,
    bands: int = 4,
    max_hamming: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-duplicate pairs: banded signature buckets generate
    candidates, exact Hamming distance verifies ≤ ``max_hamming``.

    Pigeonhole guarantee: any pair within Hamming distance
    ``bands - 1`` MUST agree on at least one band — with bands >
    max_hamming the candidate stage has 100% recall for the verified
    output (unlike probabilistic MinHash/sign-LSH recall). Candidates
    come from a uniform-key bucket equi-join; Hamming is a fixed
    ``bits``-term codegen expression on the two signature strings.
    Returns (id_a, id_b, hamming).
    """
    if bands <= max_hamming:
        raise ValueError(
            f"bands={bands} must exceed max_hamming={max_hamming} for the "
            "pigeonhole guarantee (a pair differing in <= max_hamming bits "
            "must share one clean band)"
        )
    r = bits // bands
    sig = simhash_signatures(docs, bits, k, id_col).persist()
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.substring("simhash", b * r + 1, r).alias("bsig"),
        )
        for b in range(bands)
    ]
    banded = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.bsig").alias("bsig")
    )
    l = banded.select(F.col("doc_id").alias("id_a"), "band", "bsig")
    rr = banded.select(F.col("doc_id").alias("id_b"), "band", "bsig")
    cands = (
        l.join(rr, ["band", "bsig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"))
    hamming = sum(
        F.when(
            F.substring("ha", i, 1) != F.substring("hb", i, 1), 1
        ).otherwise(0)
        for i in range(1, bits + 1)
    )
    out = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
    return finalize(out, sig)


def jaccard_verified_dedup(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 8,
    threshold: float = 0.4,
    id_col: str = "doc_id",
) -> DataFrame:
    """The composed scale path: MinHash-LSH candidate pairs → exact n-gram
    Jaccard verification ≥ ``threshold``. Returns (id_a, id_b, jaccard).

    Unlike :func:`ngram_jaccard_pairs` (the all-pairs shingle self-join,
    quadratic in per-shingle frequency — verification/oracle use only),
    every wide op here is linear in candidates: band buckets bound the
    pair set, then shingles are joined per candidate pair, never
    all-against-all.
    """
    # ONE shingle materialization feeds everything: the MinHash signature
    # aggregation (min over the distinct set ≡ min over the multiset),
    # the per-doc sizes, and both sides of the common-shingle join
    sh = char_shingles(docs, k, id_col).persist()
    cands = minhash_lsh_candidates(docs, num_hashes, bands, k, id_col, shingles=sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # candidates ⋈ A-shingles on id_a, then (id_b, shingle) equi-join picks
    # exactly the common shingles of each candidate pair
    common = (
        cands.join(sh.select(F.col("doc_id").alias("id_a"), "shingle"), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    verified = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return finalize(verified, sh)


def dedup_corpus(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 8,
    threshold: float = 0.4,
    cc_rounds: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end corpus deduplication — the operator a 100 TB training
    pipeline actually runs: drop every document that is an exact OR
    near-duplicate of a kept one, one survivor per duplicate CLUSTER.

    Composition (each stage scale-safe on its own):
      1. exact-dup edges: md5(text) groups → (keep_id, member) pairs;
      2. near-dup edges: MinHash-LSH candidates verified by exact Jaccard
         ≥ ``threshold`` (jaccard_verified_dedup);
      3. connected components over the union dup-graph (duplicate
         similarity is not transitive pairwise, so near-dup CHAINS —
         A≈B≈C with A̸≈C — must collapse to one representative: the
         cluster minimum);
      4. survivors = corpus minus non-representative cluster members.

    Returns the surviving rows of ``docs`` (all original columns).
    ``cc_rounds`` bounds wcc's hash-min rounds, which run only past its
    driver bound (``topology.DRIVER_PAIRS``); dup clusters have tiny
    diameter so the default converges with a wide margin.
    """
    hashed = docs.select(F.col(id_col).alias("m"), F.md5(F.col(text_col)).alias("h"))
    groups = hashed.groupBy("h").agg(F.min("m").alias("keep"))
    exact_edges = (
        hashed.join(groups, "h")
        .filter(F.col("m") != F.col("keep"))
        .select(F.col("keep").alias("src"), F.col("m").alias("dst"))
    )
    near_edges = jaccard_verified_dedup(
        docs, num_hashes, bands, k, threshold, id_col
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    dup_edges = exact_edges.unionByName(near_edges)

    from jasminegraph_spark.analytics.components import connected_components

    labels = connected_components(dup_edges, max_iterations=cc_rounds)
    losers = labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def simhash_signatures(
    docs: DataFrame, bits: int = 16, k: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """SimHash: per bit position j, sum ±1 votes of each shingle's hash bit
    j; the signature bit is the vote sign. Bit j of a shingle is the parity
    of hex digit j of md5(shingle) — portable across engines.

    Returns (doc_id, simhash) with simhash a ``bits``-char '0'/'1' string.
    Near-dup lookup = signature equality or banded Hamming distance.
    """
    sh = char_shingles(docs, k, id_col).withColumn("h", F.md5("shingle"))
    # one wide row per shingle (bits as columns) → single partial-agg
    # groupBy; avoids a bits× row explosion + second shuffle
    vote_cols = [
        F.expr(
            f"CASE WHEN (locate(substring(h, {j}, 1), '0123456789abcdef') - 1) % 2 = 1 "
            f"THEN 1 ELSE -1 END"
        ).alias(f"v{j}")
        for j in range(1, bits + 1)
    ]
    votes = sh.select("doc_id", *vote_cols)
    summed = votes.groupBy("doc_id").agg(
        *[F.sum(f"v{j}").alias(f"s{j}") for j in range(1, bits + 1)]
    )
    bit_str = F.concat(
        *[F.when(F.col(f"s{j}") >= 0, F.lit("1")).otherwise(F.lit("0")) for j in range(1, bits + 1)]
    )
    return summed.select("doc_id", bit_str.alias("simhash"))


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """Line-level exact dedup (C4/RefinedWeb boilerplate removal): drop
    every line that occurs in >= ``min_docs`` DISTINCT documents, then
    reassemble each document's surviving lines in their original order.

    Returns (id_col, clean_text, n_kept, n_removed) for EVERY input doc —
    a document whose lines are all boilerplate survives with empty text,
    so downstream length filters (not silent row loss) decide its fate.

    Plan: posexplode (map-side) → per-line distinct-doc count (one
    partial-aggregated shuffle on the line hash) → hash join back on the
    line → per-doc reassembly groupBy. The join key is md5(line), so a
    hot boilerplate line is ONE hot key (AQE skew-join territory), and
    raw line text never shuffles twice. At 100 TB every stage partitions
    by uniform hashes; nothing collects to the driver.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    keyed = lines.withColumn("line_h", F.md5(F.col("line")))
    counts = keyed.groupBy("line_h").agg(
        F.countDistinct(id_col).alias("n_docs")
    )
    kept = (
        keyed.join(counts, "line_h")
        .filter(F.col("n_docs") < F.lit(min_docs))
        .select(id_col, "pos", "line")
    )
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count("*").alias("n_lines"))
    return (
        totals.join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).cast("long").alias("n_removed"),
        )
    )


def substring_duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    min_span: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_frequency: int = 64,
) -> DataFrame:
    """Exact-substring duplicate detection (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022 — the
    exact-substring criterion their 50-token suffix-array pass
    implements): document pairs sharing a VERBATIM token span of
    >= min_span tokens, with the longest such span per pair.

    The paper builds one giant suffix array — a single-machine
    structure. The Spark shape: positional token k-shingles hash-joined,
    then per (pair, position-offset) a shared span of L >= k tokens is
    exactly a run of L-k+1 consecutive shingle matches — recovered with
    one window (pos − row_number run grouping, the islands trick), so
    span length needs no iterative extension. Shingles hotter than
    ``max_shingle_frequency`` total occurrences (boilerplate) are
    dropped BEFORE the self-join — candidates scale as cap × shingle
    volume, never all-pairs (same skew bound as ngram_jaccard_pairs);
    window partitions are (pair, offset), bounded by document length.

    Returns (id_a, id_b, max_span_tokens, n_spans) with id_a < id_b,
    n_spans = number of distinct maximal shared runs >= min_span.
    """
    from pyspark.sql import Window

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)).alias(
            "t"
        ),
    ).filter(F.size("t") >= k)
    sh = base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {k - 1}),"
                f" i -> struct(i AS pos, md5(concat_ws(' ', slice(t, i, {k}))) AS h))"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    rare = (
        sh.groupBy("h")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") <= max_shingle_frequency)
        .select("h")
    )
    sh = sh.join(rare, "h", "left_semi")
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("pos").alias("pos_a"), "h")
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("pos").alias("pos_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (F.col("pos_a") - F.col("pos_b")).alias("off"), "pos_a")
    )
    w = Window.partitionBy("id_a", "id_b", "off").orderBy("pos_a")
    runs = (
        pairs.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "off", "grp")
        .agg((F.count("*") + F.lit(k - 1)).alias("span"))
    )
    return (
        runs.filter(F.col("span") >= min_span)
        .groupBy("id_a", "id_b")
        .agg(
            F.max("span").cast("int").alias("max_span_tokens"),
            F.count("*").alias("n_spans"),
        )
    )
