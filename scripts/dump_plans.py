#!/usr/bin/env python
"""Dump formatted physical plans for the headline scale-path queries into
PLANS.md — the reviewable evidence that each shipped plan is the one the
SCALE.md ledger claims (pushdown reaching scans, broadcasts where small,
no nested loops, bounded windows).

Usage: python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from jasminegraph_spark.session import get_spark  # noqa: E402

SHOWCASE = [
    ("rel_q3_shipping_priority", "TPC-H join+agg: pushdown + broadcast dims"),
    ("rel_interval_join_busy_hours", "range join decomposed to bucket equi-join"),
    ("rel_asof_last_purchase", "as-of join as union + window (no BNLJ)"),
    ("pl_lsh_verified_dedup", "LSH candidates -> exact verify (no all-pairs)"),
    ("pl_line_dedup", "line-hash count join + ordered reassembly"),
    ("pl_bm25_topk", "query-filtered explode + broadcast idf + TakeOrdered"),
    ("pl_temperature_mixture", "tiny aggregate broadcast onto map-side filter"),
    ("pl_chunk_documents", "map-side-only chunking (no exchange)"),
    ("an_triangle_count", "per-DAG-edge sorted-neighbor intersection"),
    ("cy_expand_two_hop", "Cypher expansion as equi-joins"),
    ("rel_json_props_extract", "typed JSON parse pruned to two columns"),
    ("pl_graphrag_retrieve", "bounded hybrid retrieval + broadcast KG expansion"),
    ("pl_knn_classify", "broadcast queries + broadcast vote frame over corpus"),
    # round-5 scale paths
    ("an_sage_embeddings", "SAGE layers as adjacency join + partial-agg mean"),
    ("src_bucketed_expand", "bucket-local expand: zero exchange, Bucketed: true"),
    (
        "an_link_prediction_trained",
        "example features: min-degree-oriented overlap join (hub armor)",
    ),
    # round-5 continuation scale paths
    ("pl_substring_spans", "capped positional-shingle join + islands window"),
    ("pl_gopher_rules", "full Gopher rule set as one narrow projection"),
    ("pl_triplet_mining", "broadcast anchors over streamed corpus + struct argmax"),
    ("pl_kmv_merge_rollup", "fixed-size sketches through the shuffle, not raw keys"),
    ("src_graphml_roundtrip", "distributed XML fragment parse (regexp + unescape)"),
    # round-7 scale paths
    ("pl_bigram_logprob", "per-doc pre-aggregation below the zipfian count joins"),
    ("an_sage_sampled", "per-layer fan-out cap: v-partitioned window, no global sort"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    out = [
        "# PLANS — formatted physical plans of the headline scale paths",
        "",
        f"Generated by scripts/dump_plans.py at {sf_dir} (regenerate after",
        "plan-affecting changes). Read together with SCALE.md: each plan",
        "should show the properties the ledger claims for its family.",
        "",
    ]
    for name, why in SHOWCASE:
        df = queries[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            getattr(
                df._sc._jvm.org.apache.spark.sql.execution.ExplainMode, "fromString"
            )("formatted")
        )
        out.append(f"## {name}\n\n_{why}_\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(SHOWCASE)} plans")


if __name__ == "__main__":
    main()
