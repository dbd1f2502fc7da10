#!/usr/bin/env python
"""Time individual declared queries: noop sink, clearCache between runs,
warmup run, min + median of N.

Usage: python scripts/time_query.py [-n RUNS] query [query ...]
Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from jasminegraph_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time-query")
    queries = entry_mod.queries()

    def run_once(name: str) -> float:
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    for name in args.names:
        spark.sparkContext.setJobDescription(f"time:{name}")
        cold = run_once(name)
        spark.catalog.clearCache()
        samples = []
        for _ in range(args.n):
            samples.append(run_once(name))
            spark.catalog.clearCache()
        print(
            f"{name}: cold={cold:.2f}s warm_min={min(samples):.3f}s "
            f"median={statistics.median(samples):.3f}s "
            f"samples={[round(s, 3) for s in samples]}"
        )


if __name__ == "__main__":
    main()
