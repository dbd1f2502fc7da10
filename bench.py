#!/usr/bin/env python
"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": sf}. Each query is forced end-to-end with a
noop sink (full execution, no driver collect).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from jasminegraph_spark.session import get_spark  # noqa: E402

# representative per-family headliners: relational, graph ops, analytics,
# stream-table, dedup/similarity/text pipeline
HEADLINE = [
    "rel_q1_pricing_summary",
    "rel_q3_shipping_priority",
    "rel_q5_local_supplier_volume",
    "rel_q6_forecast_revenue",
    "rel_q2_min_cost_supplier",
    "rel_q7_nation_volume",
    "rel_events_hourly",
    "rel_events_sessionize",
    "cy_expand_two_hop",
    "cy_order_by_limit",
    "cy_aggregate",
    "cypher_filter_expand",
    "cypher_with_agg_having",
    "an_triangle_count",
    "an_pagerank",
    "an_degree_dist_in",
    "pl_exact_dedup",
    # pack_sequences sits here (pure-JVM window) rather than after the
    # mapInPandas-heavy link prediction: measured 1.0s standalone but up
    # to 5.6s when it directly follows the SpGEMM query, whose dropped
    # checkpoint RDDs the ContextCleaner is still collecting
    "pl_pack_sequences",
    "pl_minhash_lsh",
    "pl_simhash",
    "pl_cosine_topk",
    "pl_quality_scores",
    # round-2 composed scale paths (LSH-verified dedup/near-dup, text →
    # embedding → bucketed ANN, iterative components)
    "pl_lsh_verified_dedup",
    "pl_embedding_near_dup",
    "pl_embed_ivf_ann",
    "an_connected_components",
    # round-4: link prediction enters the headline now that the wedge join
    # is degree-capped by default (was ~42 s uncapped at sf0.1, hidden)
    "an_link_prediction",
    # round-4 continuation scale paths: bucketed range join (no BNLJ),
    # line-level boilerplate dedup, corpus unigram scoring, Bellman-Ford
    "rel_interval_join_busy_hours",
    "pl_line_dedup",
    "pl_unigram_logprob",
    "an_weighted_shortest_paths",
    # round-4 third continuation: composed GraphRAG retrieval (bounded
    # hybrid lists + broadcast KG expansion) and k-NN label classification
    # (broadcast queries over a streamed corpus)
    "pl_graphrag_retrieve",
    "pl_knn_classify",
    # round-5: the bucketed-storage claim, measured — identical traversal
    # aggregate over plain parquet (full two-sided exchange) vs
    # bucketed+sorted tables (exchange-free bucket-local SMJ). The
    # bucketed build is memoized, so its warm number is the join alone.
    "src_unbucketed_expand",
    "src_bucketed_expand",
    # round-5: the 2-layer SAGE encoder (two adjacency join+groupBy-avg
    # rounds — the model-family flagship, PageRank-iteration cost class)
    "an_sage_embeddings",
    # round-5 continuation: SCC (trim + FW/BW min-pivot) and exact-
    # substring spans (positional-shingle join + islands run recovery).
    # MSF is excluded — dozens of tiny driver-bound jobs make it a
    # latency measure, not a throughput one; its sf0.1 number (31 s cold
    # incl. forest-derived WCC) is recorded in SCALE.md instead.
    "an_scc",
    "pl_substring_spans",
    # round-6: SemDeDup (cluster + within-cell cosine dominance), real
    # PNG decode (zlib inflate + unfilter in the Arrow stage), C4 rule
    # filter (expression-only), Lloyd codebook round, BPE application.
    # an_node2vec_corpus is deliberately NOT here — |V|·R walk corpora
    # are a stress-harness measure (SCALE.md §node2vec), not a bench
    # loop one (~31 s at sf0.1).
    "pl_semantic_dedup",
    "pl_png_decode",
    "pl_c4_rules",
    "pl_kmeans_refine",
    "pl_bpe_encode",
    "pl_bigram_logprob",
    # round-7: real JPEG + FLAC decode (pure-Python entropy decoders in
    # the Arrow stage — the bench number is the Python-side codec cost
    # story), sampled-neighborhood SAGE (windowed fan-out cap + two
    # join+avg rounds)
    "pl_jpeg_decode",
    "pl_flac_decode",
    "an_sage_sampled",
    # round-8: MPEG-1 Layer III structural decode (frame walk + side info
    # + reservoir + scalefactors; silence spectra → exact-zero DSP).
    "pl_mp3_decode",
    # round-10 (VERDICT r9 ask #3): the streaming-partitioner pair (LDG /
    # Fennel sequential scoring via applyInPandas over arrival chunks),
    # restart-durable replay (its number IS mostly the 4-batch
    # incremental-state machinery — a fixed-overhead story, tracked here
    # so a state-IO regression is visible rather than hidden), and the
    # two-channel MP3 decode beside its mono sibling.
    "src_ldg_partition",
    "src_fennel_partition",
    "st_restart_replay",
    "pl_mp3_stereo_decode",
    "pl_mp3_lsf_decode",
    "pl_jpeg_progressive_color",
    "pl_layer1_decode",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("jasminegraph-bench")
    queries = entry_mod.queries()
    warmup = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1"))
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}

    def run_once(name: str) -> float:
        t0 = time.perf_counter()  # include plan construction: some queries
        df = queries[name](spark, sf_dir)  # (pagerank) run eager steps here
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    # min-of-3 + median (r5 verdict #8): min-of-2 at ±25% machine variance
    # cannot attribute <25% drifts; three samples plus the median give
    # each query a noise band a regression verdict must clear
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # soft wall budget: min-of-3 across 44 headliners is ~3× the r5 wall;
    # rather than risk an external timeout losing the whole round's bench,
    # degrade to fewer warm runs for the REMAINING queries once 60%/85% of
    # the budget is spent (recorded per query in the variance metadata —
    # a degraded sample count is visible, never silent)
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "1200"))
    import statistics

    bench_t0 = time.perf_counter()
    medians: dict[str, float] = {}
    spread: dict[str, float] = {}
    runs_used: dict[str, int] = {}
    for name in HEADLINE:
        elapsed = time.perf_counter() - bench_t0
        eff_runs = max(1, runs)
        if elapsed > 0.85 * budget:
            eff_runs = 1
        elif elapsed > 0.60 * budget:
            eff_runs = min(eff_runs, 2)
        # first run pays whole-stage-codegen (Janino) compilation — constant
        # JVM warmup, not data cost; steady state is the engine comparison.
        # Caches are cleared between runs so data work is NOT reused.
        for _ in range(warmup):
            cold[name] = round(run_once(name), 3)
            spark.catalog.clearCache()
        samples = []
        for _ in range(eff_runs):
            # warm number = MIN of the timed runs: single warm samples on a
            # shared box jitter ±20% (GC, page cache); the minimum is the
            # standard low-noise estimator of the engine's actual cost
            samples.append(run_once(name))
            spark.catalog.clearCache()
        timings[name] = round(min(samples), 3)
        medians[name] = round(statistics.median(samples), 3)
        # relative sample spread — the per-query noise band a regression
        # verdict must clear before it's attributable
        spread[name] = round((max(samples) - min(samples)) / max(medians[name], 1e-9), 3)
        runs_used[name] = eff_runs
    total = round(sum(timings.values()), 3)

    # Full sample detail (cold, median, spread, run counts) goes to a file:
    # the driver captures only the LAST 2000 chars of stdout, and the r3-r7
    # detail-laden line overflowed that window, so BENCH_r{N}.json carried
    # "parsed": null for five rounds. The final printed line is the compact
    # driver contract (metric/value/unit/queries/sf, per-query warm min
    # rounded to 2 decimals: ~47 queries ≈ 1.3 KB) and everything else
    # lives in BENCH_DETAIL.json next to this script.
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold_queries": cold,
        "median_queries": medians,
        "variance": {
            "runs_per_query": runs,
            "runs_used": runs_used,
            "estimator": "min",
            "spread": spread,
        },
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    except Exception as exc:  # detail failures must never fail the bench
        print(f"# bench detail skipped: {exc}", file=sys.stderr)
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {name: round(sec, 2) for name, sec in timings.items()},
        "sf": detail["sf"],
        # r14 (VERDICT r13 #9, additive key — driver contract unchanged):
        # budget degradation is visible in the compact line, not only in
        # BENCH_DETAIL.json. "runs": the configured warm samples per query;
        # "runs_degraded": ONLY the queries that got fewer (bench.py budget
        # path) — usually empty, so the line stays within the 2000-char
        # driver capture. A 1-sample heavy-row number is never mistaken
        # for a min-of-3 one.
        "runs": runs,
        "runs_degraded": {
            name: n for name, n in runs_used.items() if n < max(1, runs)
        },
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # hard guarantee: never overflow the capture again
        compact["queries"] = {"total_only": total}
        compact["runs_degraded"] = {"n_degraded": len(compact["runs_degraded"])}
        compact["note"] = "per-query detail in BENCH_DETAIL.json"
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
