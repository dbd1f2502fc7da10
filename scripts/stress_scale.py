#!/usr/bin/env python
"""Scale-stress the headline graph operators on a generated R-MAT graph.

The parquet test data tops out at sf0.1 (~10^5 graph edges); this script
measures the SAME operator code paths at 100-1000x that edge count using
the deterministic R-MAT generator (Graph500 shape: power-law hubs, the
adversarial degree distribution for wedge-style joins). Usage:

    python scripts/stress_scale.py [scale] [edge_factor] [step,step,...]

Defaults: scale=21 (2M vertices), edge_factor=16 (32M generated edges),
all steps. Prints one JSON line per step so runs can be pasted into
SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from jasminegraph_spark.session import get_spark  # noqa: E402
from jasminegraph_spark.sources.generators import rmat_edges  # noqa: E402
from jasminegraph_spark.analytics.graph_algs import (  # noqa: E402
    pagerank,
    triangle_count_df,
)
from jasminegraph_spark.analytics.components import (  # noqa: E402
    connected_components,
    k_core,
)


def step(name: str, fn):
    t0 = time.perf_counter()
    out = fn()
    sec = round(time.perf_counter() - t0, 1)
    print(json.dumps({"step": name, "sec": sec, "result": out}), flush=True)
    return out


def main() -> None:
    scale = int(sys.argv[1]) if len(sys.argv) > 1 else 21
    edge_factor = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    spark = get_spark("stress-scale")
    path = f"/tmp/rmat_s{scale}_ef{edge_factor}.parquet"

    def want(name: str) -> bool:
        return only is None or name in only

    def gen():
        if not os.path.isdir(path):
            rmat_edges(spark, scale=scale, edge_factor=edge_factor).write.parquet(path)
        n = spark.read.parquet(path).count()
        return {"generated_edges": n}

    step(f"generate rmat scale={scale} ef={edge_factor}", gen)
    edges = spark.read.parquet(path)

    if want("wcc"):
        step(
            "wcc",
            lambda: {
                "components": connected_components(edges)
                .agg(F.countDistinct("component"))
                .collect()[0][0]
            },
        )
    if want("pagerank_10iter"):
        step(
            "pagerank_10iter",
            lambda: {
                "top_rank": round(
                    pagerank(edges, iterations=10)
                    .agg(F.max("rank"))
                    .collect()[0][0],
                    6,
                )
            },
        )
    if want("k_core_k4"):
        step(
            "k_core_k4",
            lambda: {"core_edges": k_core(edges, k=4).count()},
        )
    if want("triangle_count"):
        step(
            "triangle_count",
            lambda: {
                "triangles": triangle_count_df(edges).collect()[0][0]
            },
        )
    if want("sage_embeddings"):
        # round-5: the 2-layer mean-aggregator SAGE encoder — two
        # adjacency join+groupBy-avg rounds over 2|E| rows; power-law
        # hubs stress the groupBy exactly like a PageRank iteration
        from jasminegraph_spark.analytics.linkpred import sage_embeddings

        def run_sage():
            emb = sage_embeddings(edges, layers=2)
            row = emb.agg(
                F.count("*").alias("n"), F.max("l2_l1_f1").alias("mx")
            ).collect()[0]
            return {"vertices": row["n"], "max_l2_l1_f1": round(row["mx"], 2)}

        step("sage_embeddings_2layer", run_sage)
    if want("link_example_features"):
        # round-5: the SQL-expressible train/test example surface — the
        # overlap (common-neighbor) join fans out by pair-endpoint
        # degree, the same hub hazard class as the wedge join
        from jasminegraph_spark.analytics.linkpred_ml import link_example_features

        def run_lef():
            feats = link_example_features(edges, split="test")
            row = feats.agg(
                F.count("*").alias("n"), F.sum("cn").alias("cn_sum")
            ).collect()[0]
            return {"examples": row["n"], "cn_sum": int(row["cn_sum"])}

        step("link_example_features", run_lef)
    if want("lsh_dedup"):
        # round-5: the LLM-pipeline flagship at scale — MinHash-LSH +
        # exact-verify dedup over 2^scale synthetic docs with one planted
        # near-duplicate pair per decade; recall is exact ground truth
        from jasminegraph_spark.pipeline.dedup import jaccard_verified_dedup
        from jasminegraph_spark.sources.generators import synthetic_documents

        def run_dedup():
            n = 1 << scale
            docs = synthetic_documents(spark, n).persist()
            pairs = jaccard_verified_dedup(docs, threshold=0.8)
            recalled = pairs.filter(
                (F.col("id_a") % 10 == 0) & (F.col("id_b") == F.col("id_a") + 9)
            ).count()
            planted = len(range(9, n, 10))  # every doc with id % 10 == 9
            docs.unpersist()
            return {
                "docs": n,
                "planted": planted,
                "recalled": recalled,
                "recall": round(recalled / planted, 4),
            }

        step("lsh_dedup_planted_recall", run_dedup)
    if want("scc"):
        # round-5 continuation: directed SCC (trim + FW/BW min-pivot) —
        # R-MAT is directed with a giant cyclic core plus a power-law
        # periphery, the shape the trim phase exists for
        from jasminegraph_spark.analytics.components import (
            strongly_connected_components,
        )

        step(
            "scc",
            lambda: {
                "components": strongly_connected_components(edges, max_outer=40)
                .agg(F.countDistinct("component"))
                .collect()[0][0]
            },
        )
    if want("msf"):
        # round-5 continuation: Borůvka MSF with contraction; md5-derived
        # deterministic weights, fresh-stats checkpoints (SCALE.md §Graph
        # analytics — the chained-checkpoint stats hazard)
        from jasminegraph_spark.analytics.components import minimum_spanning_forest

        wedges = edges.withColumn(
            "weight",
            F.conv(
                F.substring(F.md5(F.concat_ws("-", "src", "dst")), 1, 12), 16, 10
            ).cast("double"),
        )
        step("msf", lambda: {"tree_edges": minimum_spanning_forest(wedges).count()})
    if want("mis"):
        # round-5 continuation: deterministic Luby MIS (md5 priorities)
        from jasminegraph_spark.analytics.components import maximal_independent_set

        step("mis", lambda: {"mis_size": maximal_independent_set(edges).count()})
    if want("semantic_dedup"):
        # round-6: SemDeDup at corpus scale — 2^(scale-2) synthetic
        # 8-dim embeddings (xxhash64 grid), one planted identical twin
        # per 100 ids; n_cells grows with the corpus so cell size stays
        # ~512 and the within-cell quadratic work is bounded. The
        # centroid-assignment window is WindowGroupLimit'd (top-1 per
        # partition BEFORE the exchange), so the n×k score frame never
        # crosses the shuffle.
        from jasminegraph_spark.pipeline import semantic_dedup

        def run_sem():
            n = 1 << max(scale - 2, 12)
            ids = spark.range(n).select(F.col("id").alias("vec_id"))
            base = F.when(
                (F.col("vec_id") % 100 == 1) & (F.col("vec_id") > 0),
                F.col("vec_id") - 1,
            ).otherwise(F.col("vec_id"))
            vec = F.array(
                *[
                    (
                        F.pmod(F.xxhash64(base, F.lit(d)), F.lit(1000)).cast("double")
                        / 500.0
                        - 1.0
                    )
                    for d in range(8)
                ]
            )
            emb = ids.select("vec_id", vec.alias("embedding"))
            n_cells = max(n // 512, 16)
            out = semantic_dedup(emb, threshold=0.9999, n_cells=n_cells).persist()
            dropped = out.filter(~F.col("keep")).count()
            # every planted twin (id%100==1) must be dropped: identical
            # vector, same cell, tie broken to the lower id
            planted = (
                out.filter((F.col("vec_id") % 100 == 1) & ~F.col("keep")).count()
            )
            expect = (n - 2 + 100) // 100  # ids ≡ 1 (mod 100), id>0
            out.unpersist()
            return {
                "vectors": n,
                "n_cells": n_cells,
                "dropped": dropped,
                "planted_expected": expect,
                "planted_dropped": planted,
                "planted_recall": round(planted / expect, 4),
            }

        step("semantic_dedup_planted", run_sem)
    if want("node2vec_corpus"):
        # round-6: the walk corpus at scale — R=2 biased walks per source
        # with the xxhash64 E-S draw (the scale path; md5 is the
        # oracle-parity default). Per-step cost is SIZE-BIASED: walkers
        # pile onto hubs ∝ degree, so each step evaluates
        # ≈ walkers × Σdeg²/Σdeg candidates — the second moment of the
        # degree distribution, not |V|, is what this step stresses. At
        # scale ≥ 18 sources are md5-capped to 2^15 walk starts so the
        # candidate volume stays bounded by walker count while hub
        # fan-out is the full scale-21 distribution.
        from jasminegraph_spark.analytics.graph_algs import node2vec_corpus

        def run_corpus():
            srcs = edges.select(F.col("src").alias("node")).distinct()
            n_src = None
            if scale >= 18:
                srcs = srcs.filter(
                    F.substring(F.md5(F.col("node").cast("string")), 1, 2) < "08"
                )
                n_src = srcs.count()
            corpus = node2vec_corpus(
                edges, sources=srcs, n_walks=2, length=5, p=2.0, q=0.5,
                hash_fn="xxhash64",
            )
            row = corpus.agg(
                F.count("*").alias("rows"),
                F.countDistinct("node").alias("nodes_visited"),
            ).collect()[0]
            return {
                "sources": n_src or "all",
                "corpus_rows": row["rows"],
                "nodes_visited": row["nodes_visited"],
            }

        step("node2vec_corpus_R2_L5", run_corpus)
    if os.environ.get("STRESS_KEEP") != "1":
        shutil.rmtree(path, ignore_errors=True)


if __name__ == "__main__":
    main()
