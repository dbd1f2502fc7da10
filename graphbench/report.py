"""Turns a finished run into the readable report and the result line."""

from __future__ import annotations

import json
import os
import statistics

import stats
from tracing import covered, clip, self_times
from oracle import READ_TEMPLATES, WRITE_TEMPLATES
from workloads import ANALYTICS_PASS, GRAPH

_OP = "op_cpu_mean_ms"
_CYPHER = ("cypher_read, cypher_rw", "analytics_batch")
_ANALYTICS = ("analytics_batch", "cypher_read, cypher_rw")
_PERF = ("cypher_read, cypher_rw", "stream_ingest")
#: per-layer metric → (unit, end-to-end metric it should move, workloads
#: where it should, workloads where it should not)
LAYER_TAGS = {
    "spark.jobs_per_op": ("count", _OP, "all", "-"),
    "spark.stages_per_op": ("count", _OP, "all", "-"),
    "spark.tasks_per_op": ("count", _OP, "all", "-"),
    "spark.input_bytes_per_op": ("B", _OP, "all", "-"),
    "spark.shuffle_write_bytes_per_op": ("B", _OP, "all", "-"),
    "spark.job_ms_per_op": ("ms", _OP, "all", "-"),
    "spark.outside_jobs_ms_per_op": ("ms", _OP, "all", "-"),
    "perf.record_ms_per_op": ("ms", _OP, *_PERF),
    "perf.jobs_per_op": ("count", _OP, *_PERF),
    "perf.ledger_files_per_op": ("count", _OP, *_PERF),
    "cypher.self_pct": ("%", _OP, *_CYPHER),
    "cypher.jobs_per_op": ("count", _OP, *_CYPHER),
    "cypher.parse_ms": ("ms", _OP, *_CYPHER),
    "cypher.compile_ms": ("ms", _OP, *_CYPHER),
    **{f"cypher.exec_ms.{t}": ("ms", _OP, *_CYPHER) for t in READ_TEMPLATES},
    **{f"cypher.write_ms.{t}": ("ms", _OP, "cypher_rw", "cypher_read") for t in WRITE_TEMPLATES},
    "graph.self_pct": ("%", _OP, "cypher_rw", "cypher_read"),
    "graph.reload_ms": ("ms", _OP, "cypher_rw", "cypher_read"),
    "graph.store_files_per_op": ("count", _OP, "cypher_rw", "cypher_read"),
    "graph.ingest_s": ("s", "setup_s", "all", "-"),
    "graph.store_bytes_per_edge": ("B", f"setup_s, {_OP}", "cypher_read, analytics_batch", "-"),
    **{f"analytics.{t}_s": ("s", _OP, *_ANALYTICS) for t in ANALYTICS_PASS},
    "analytics.jobs_per_op": ("count", _OP, *_ANALYTICS),
    "cache.checkpoints_per_op": ("count", _OP, *_ANALYTICS),
    "cache.checkpoint_ms": ("ms", _OP, *_ANALYTICS),
    "trace.overhead_ms_per_op": ("ms", "(none: cost of tracing)", "all", "-"),
}

#: the streaming layer's figures are readable-report lines of
#: ``stream_ingest``, which is not a workload of record while it fails
STREAM_TAG = "  [moves ingest_batch_p50_s, ingest_edges_per_s on stream_ingest; not on cypher_read]"


def _tree(path: str):
    n_files = n_bytes = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
    return n_files, n_bytes


def store_files(storage_path: str) -> tuple:
    """(graph store, perf ledger) parquet file counts under the engine's
    storage path."""
    total, _ = _tree(storage_path)
    ledger, _ = _tree(os.path.join(storage_path, "_perfdb"))
    return total - ledger, ledger


#: end-to-end metrics of record, both process-tree CPU time: what setting
#: up and serving an operation cost, so what bounds throughput under load.
#: ``op_cpu_mean_ms`` is the CPU of the whole cycles in the window divided
#: by their operations, so every template weighs in at its share of the
#: mix. Wall times are in the readable report only: CPU time stolen by the
#: hypervisor moves them by 25-40% between identical runs, and it is not
#: in CPU time.
E2E_UNITS = {"setup_s": "s", "op_cpu_mean_ms": "ms"}


def end_to_end(r) -> dict:
    values = {"setup_s": r.setup_cpu_s, "op_cpu_mean_ms": statistics.mean(r.measured.cpu_ms())}
    return {k: (v, E2E_UNITS[k]) for k, v in values.items()}


def _op_spans(r):
    """Per traced operation: its root span index and the indices of every
    span recorded for it."""
    spans = r.tracer.spans
    by_op: dict = {}
    for i, s in enumerate(spans):
        if s.op is not None:
            by_op.setdefault(s.op, []).append(i)
    return [(root, by_op.get(spans[root].op, [root])) for root in r.measured.roots]


def per_layer(r) -> tuple:
    """(metrics, detail lines) from the traced window."""
    spans = r.tracer.spans
    selfs = self_times(spans)
    ops = _op_spans(r)
    n_ops = max(len(r.measured.ops), 1)
    jobs = [j for _, idx in ops for i in idx for j in spans[i].jobs]

    wall = 0.0
    job_cov = 0.0
    for root, idx in ops:
        s = spans[root]
        lo, hi = s.start, s.end
        if s.name == "op.drain":  # stream jobs run on the stream's thread
            lo, hi = min(spans[i].start for i in idx), max(spans[i].end for i in idx)
        wall += hi - lo
        ivs = [(j["start"], j["end"]) for i in idx for j in spans[i].jobs
               if j["start"] is not None and j["end"] is not None]
        job_cov += covered(clip(ivs, lo, hi))

    layer_self: dict = {}
    layer_jobs: dict = {}
    in_window = {i for _, idx in ops for i in idx}
    for i in in_window:
        s = spans[i]
        layer_self[s.layer] = layer_self.get(s.layer, 0.0) + selfs[i]
        layer_jobs[s.layer] = layer_jobs.get(s.layer, 0) + len(s.jobs)

    def named(prefix):
        return [spans[i] for i in in_window if spans[i].name.startswith(prefix)]

    def med_ms(spans_):
        xs = [1000 * (s.end - s.start) for s in spans_]
        return statistics.median(xs) if xs else 0.0

    def pct(layer):
        return 100.0 * layer_self.get(layer, 0.0) / wall if wall else 0.0

    by_template: dict = {}  # (span name, template of its operation) → spans
    for root, idx in ops:
        t = spans[root].name.split(".", 1)[1]
        for i in idx:
            by_template.setdefault((spans[i].name, t), []).append(spans[i])

    graph_dir = getattr(r.wl, "last_store", os.path.join(r.engine.storage_path, GRAPH))
    _, g_bytes = _tree(graph_dir)
    g_files, ledger_files = (after - before for after, before in
                             zip(store_files(r.engine.storage_path), r.files_before))

    m = {
        "spark.jobs_per_op": len(jobs) / n_ops,
        "spark.stages_per_op": sum(j["stages"] for j in jobs) / n_ops,
        "spark.tasks_per_op": sum(j["tasks"] for j in jobs) / n_ops,
        "spark.input_bytes_per_op": sum(j["input_bytes"] for j in jobs) / n_ops,
        "spark.shuffle_write_bytes_per_op": sum(j["shuffle_write_bytes"] for j in jobs) / n_ops,
        "spark.job_ms_per_op": 1000 * job_cov / n_ops,
        "spark.outside_jobs_ms_per_op": 1000 * (wall - job_cov) / n_ops,
        "perf.record_ms_per_op": 1000 * sum(s.end - s.start for s in named("perf.record")) / n_ops,
        "perf.jobs_per_op": layer_jobs.get("perf", 0) / n_ops,
        "perf.ledger_files_per_op": ledger_files / n_ops,
        "cypher.self_pct": pct("cypher"),
        "cypher.jobs_per_op": layer_jobs.get("cypher", 0) / n_ops,
        "cypher.parse_ms": med_ms(named("cypher.parse")),
        "cypher.compile_ms": med_ms(named("cypher.compile")),
        **{f"cypher.exec_ms.{t}": med_ms(by_template.get(("cypher.exec", t), []))
           for t in READ_TEMPLATES},
        **{f"cypher.write_ms.{t}": med_ms(by_template.get(("cypher.write", t), []))
           for t in WRITE_TEMPLATES},
        "graph.self_pct": pct("graph"),
        "graph.reload_ms": med_ms(named("graph.load")),
        "graph.store_files_per_op": g_files / n_ops,
        "graph.ingest_s": r.ingest_s,
        "graph.store_bytes_per_edge": g_bytes / r.wl.store_edges(),
        **{f"analytics.{t}_s": med_ms(named(f"analytics.{t}")) / 1000 for t in ANALYTICS_PASS},
        "analytics.jobs_per_op": layer_jobs.get("analytics", 0) / n_ops,
        "cache.checkpoints_per_op": len(named("cache.checkpoint")) / n_ops,
        "cache.checkpoint_ms": med_ms(named("cache.checkpoint")),
        "trace.overhead_ms_per_op": 1000 * r.tracer.bookkeeping_s / n_ops,
    }

    # finer figures, readable report only
    detail = []
    for name, label in (("stream.add_batch", "stream.add_batch_ms"),
                        ("strian.process_batch", "strian.process_batch_ms")):
        if named(name):
            detail.append(f"{label} {med_ms(named(name)):.3f} ms "
                          f"(median of {len(named(name))} spans in the window){STREAM_TAG}")
    for layer, v in sorted(layer_self.items()):
        detail.append(f"self_ms_per_op.{layer} {1000 * v / n_ops:.3f} ms")
    return m, detail


def _stream_lines(r) -> list:
    wl = r.wl
    prog = wl.progress
    dur = lambda key: [p.durationMs.get(key, 0) for p in prog]  # noqa: E731
    tri_files, tri_bytes = _tree(wl.last_store + "__tri_state")
    st_files, st_bytes = _tree(wl.last_store)
    edges = sum(len(wl.file_pairs[f]) for files in wl.batches.values() for f in files)
    w = r.measured
    n_drains = sum(x.template == "strian_total" for x in w.results)
    return [
        f"ingest_edges_per_s {n_drains * wl.n_edges / w.elapsed:.4f} 1/s "
        f"({n_drains} drains of {wl.n_edges} edges)",
        f"ingest_batch_p50_s {statistics.median(dur('triggerExecution')) / 1000:.4f} s "
        f"(n={len(prog)} micro-batches of the last drain)",
        f"stream.query_planning_ms {statistics.median(dur('queryPlanning')):.1f} ms{STREAM_TAG}",
        f"stream.wal_commit_ms {statistics.median(dur('walCommit')):.1f} ms{STREAM_TAG}",
        f"stream.rows_per_batch {edges / max(len(wl.batches), 1):.1f} count{STREAM_TAG}",
        f"strian.state_bytes_per_edge {tri_bytes / max(wl.n_edges, 1):.2f} B "
        f"({tri_files} files){STREAM_TAG}",
        f"ingest.store_bytes_per_edge {st_bytes / max(wl.n_edges, 1):.2f} B "
        f"({st_files} files){STREAM_TAG}",
        f"stream.all_edges_stored {wl.all_stored}",
    ]


def build(r) -> dict:
    a = r.args
    w = r.measured
    results = list(r.warm_results) + list(w.results)
    failed = sum(not x.ok for x in results)
    lines = [
        f"# graphbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace}",
        f"spark_start_s {r.spark_start_s:.4f} s (once per run)",
        f"graph.ingest_s {r.ingest_s:.4f} s",
        f"warmup_s {r.warmup_s:.4f} s ({len(r.warm_results)} operations)",
        f"setup_wall_s {r.setup_wall_s:.4f} s (Spark session, ingest, first request, warm-up)",
    ]
    for x in r.warm_results:
        lines.append(f"warmup_ms.{x.template} {1000 * x.seconds:.1f} ms")
    e2e = end_to_end(r)
    for k, (v, unit) in e2e.items():
        lines.append(f"{k} {v:.4f} {unit}")
    # not an end-to-end metric of record: the JVM heap grows lazily, so
    # the peak moves by a factor of two between identical runs
    lines.append(f"peak_rss_mb {r.peak_rss / 2**20:.1f} MB (process tree)")
    lines.append(f"window {w.elapsed:.3f} s, {len(w.ops)} operations")
    lines.append(f"ops_per_s {w.per_s():.4f} 1/s")
    lines.append(f"op_p50_ms {w.p50_ms():.4f} ms")
    lines.append(f"op_tail_ms {stats.describe_tail(w.samples_ms(), 'ms')}")
    kinds = sorted({x.kind for x in w.ops})
    for kind in kinds:
        xs = w.samples_ms(kind)
        lines.append(f"{kind}_p50_ms {statistics.median(xs):.4f} ms (n={len(xs)})")
        lines.append(f"{kind}_tail_ms {stats.describe_tail(xs, 'ms')}")
    for t in sorted({x.template for x in w.ops}):
        lines.append(f"p50_ms.{t} {w.p50_ms(template=t):.4f} ms "
                     f"(n={sum(x.template == t for x in w.ops)})")
    if a.workload == "analytics_batch":
        n_pass = len(ANALYTICS_PASS)
        passes = [sum(x.seconds for x in w.ops[i:i + n_pass])
                  for i in range(0, len(w.ops) - n_pass + 1, n_pass)]
        lines.append(f"analytics_pass_s {statistics.median(passes):.4f} s "
                     f"(median of {len(passes)} passes)")
    if a.workload == "stream_ingest":
        lines += _stream_lines(r)
    lines.append(f"failed_frac {failed / max(len(results), 1):.4f} ({failed} of {len(results)})")

    if a.trace:
        metrics, detail = per_layer(r)
        for k, v in metrics.items():
            unit, moves, on, not_on = LAYER_TAGS[k]
            lines.append(f"{k} {v:.4f} {unit}  [moves {moves} on {on}; not on {not_on}]")
        lines += detail
        out = {k: {"value": float(v), "unit": LAYER_TAGS[k][0]} for k, v in metrics.items()}
    else:
        out = {k: {"value": float(v), "unit": unit} for k, (v, unit) in e2e.items()}
    return {
        "lines": lines,
        "result": {"correct": failed == 0, "attempted": len(results), "failed": failed,
                   "metrics": out},
    }


def write_spans(r, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{r.args.workload}-seed{r.args.seed}.spans.jsonl")
    selfs = self_times(r.tracer.spans)
    with open(path, "w") as fh:
        for i, s in enumerate(r.tracer.spans):
            fh.write(json.dumps({
                "id": i, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                "op": s.op, "self_s": selfs[i], "jobs": s.jobs,
            }) + "\n")
