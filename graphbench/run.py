#!/usr/bin/env python3
"""Graph-server benchmark of record.

    python3 graphbench/run.py --workload cypher_rw --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed, starts Spark through the engine's session factory, ingests the
workload's graph and warms up, then measures one closed-loop client for at
least ``--seconds`` (whole request cycles), checking every answer against
an independent oracle.

Standard output is a readable report followed, on the last line, by one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones: ``setup_s``, the
process-tree CPU seconds from process start to ready, and
``op_cpu_mean_ms``, the process-tree CPU of the measured cycles divided by
their operations (JIT compiler threads excluded); wall-clock figures are
in the readable report. With ``--trace 1`` the
engine's layer boundaries are wrapped for the whole run and the metrics
are the per-layer ones; the readable report tags each with the end-to-end
metric and workload it should move, and still prints the (traced)
end-to-end figures, so tracing overhead is their difference from an
untraced run of the same seed. Spans are written to
``.bench_work/traces/`` when a traced run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# JVMs otherwise keep a performance-counter file under /tmp
NO_PERF_DATA = "-XX:-UsePerfData"
# JIT compiler threads that come and go would fold their CPU into the
# process total when they exit, onto whichever request is running; with a
# fixed set of them procrss.tree_cpu_s(skip_jit=True) can leave it all out
FIXED_JIT_THREADS = "-XX:-UseDynamicNumberOfCompilerThreads"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cypher_read", "cypher_rw", "analytics_batch", "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def start_spark(work: str):
    """The engine's own session factory, as the CLI uses it, with every
    scratch path kept inside the checkout."""
    from jasminegraph_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark("graphbench", {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {NO_PERF_DATA} "
                                         f"{FIXED_JIT_THREADS}",
    })


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit
    (it also ends the Python workers it started)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001 - no public handle on the JVM process
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Window:
    """Results of one measured window."""

    def __init__(self, traced: bool = False):
        self.traced = traced
        self.results = []
        self.elapsed = 0.0
        self.roots = []  # traced runs: span index of each operation

    @property
    def ops(self):
        return [r for r in self.results if r.kind != "check"]

    def per_s(self) -> float:
        return len(self.ops) / self.elapsed if self.elapsed else 0.0

    def p50_ms(self, template=None) -> float | None:
        xs = [r.seconds * 1000 for r in self.ops if template is None or r.template == template]
        return statistics.median(xs) if xs else None

    def samples_ms(self, kind=None):
        return [r.seconds * 1000 for r in self.ops if kind is None or r.kind == kind]

    def cpu_ms(self):
        return [r.cpu_s * 1000 for r in self.ops]


class Runner:
    def __init__(self, args, work: str):
        import workloads

        self.args = args
        self.work = work
        self.wl = workloads.WORKLOADS[args.workload](args.seed, work)
        self.warm_results = []
        self.tracer = None
        self.counters = None
        self.span = workloads.no_span

    # -- measurement ------------------------------------------------------
    def _run_op(self, op, window: Window):
        from procrss import tree_cpu_s
        from workloads import Result

        cpu0 = tree_cpu_s(os.getpid(), skip_jit=True)
        tracer = self.tracer if window.traced else None
        root = None
        if tracer is not None:
            tracer.op = f"op{len(tracer.spans)}"
            root = tracer.begin(f"op.{op.template}")
        t0 = time.perf_counter()
        got, err = None, None
        try:
            got = op.run(self.span)
        except Exception as exc:  # a failed request is counted, not fatal
            err = exc
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid(), skip_jit=True) - cpu0
        if tracer is not None:
            tracer.end(root)
            tracer.op = None
            window.roots.append(root)
            self._collect_jobs(root)
        ok = False
        if err is None:
            try:
                ok = bool(op.check(got))
            except Exception as exc:
                err = exc
        if err is not None:
            print(f"# {op.template} raised: {err!r}", file=sys.stderr)
            traceback.print_exception(err, file=sys.stderr)
        elif not ok:
            print(f"# {op.template}: wrong answer", file=sys.stderr)
        return Result(op.kind, op.template, dt, ok, cpu)

    def _collect_jobs(self, root: int) -> None:
        self.counters.drain()
        spans = self.tracer.spans
        op = spans[root].op
        for span in spans[root:]:
            if span.op == op and not span.jobs:
                span.jobs = [self.counters.job(j) for j in self.counters.jobs(span.group)]

    def window(self, seconds: float) -> Window:
        w = Window(traced=self.tracer is not None)
        if self.args.workload == "stream_ingest":
            return self._stream_window(seconds, w)
        whole = self.wl.cycle_len
        start = time.perf_counter()
        deadline = start + seconds
        while True:
            if time.perf_counter() >= deadline and len(w.results) % whole == 0:
                break
            w.results.append(self._run_op(next(self.op_iter), w))
        w.elapsed = time.perf_counter() - start
        return w

    def _stream_window(self, seconds: float, w: Window) -> Window:
        from procrss import tree_cpu_s

        # one operation is one micro-batch; whole drains only
        deadline = time.perf_counter() + seconds
        tracer = self.tracer
        while not w.results or time.perf_counter() < deadline:
            if tracer is not None:
                tracer.op = f"op{len(tracer.spans)}"
                root = len(tracer.spans)
            cpu0 = tree_cpu_s(os.getpid(), skip_jit=True)
            wall, results = self.wl.drain(self.span)
            cpu = (tree_cpu_s(os.getpid(), skip_jit=True) - cpu0) / max(len(results) - 1, 1)
            results = [x._replace(cpu_s=cpu) if x.kind == "batch" else x for x in results]
            if tracer is not None:
                tracer.op = None
                w.roots.append(root)
                self._collect_jobs(root)
            w.results.extend(results)
            w.elapsed += wall
        return w

    def run(self):
        import report
        from jasminegraph_spark.engine import JasmineEngine
        from procrss import PeakRss
        from tracing import SparkCounters, Tracer

        rss = PeakRss().start()
        self.wl.generate()
        # set-up: process ready to serve, i.e. Spark session, ingest through
        # the public call, the first request and the workload's warm-up; it
        # happens once per process
        from procrss import tree_cpu_s

        t0 = time.perf_counter()
        cpu0 = tree_cpu_s(os.getpid())
        spark = start_spark(self.work)
        self.spark_start_s = time.perf_counter() - t0
        try:
            if self.args.trace:
                self.tracer = Tracer(spark.sparkContext)
                self.counters = SparkCounters(spark.sparkContext)
                self.tracer.install()
            self.engine = JasmineEngine(spark, storage_path=os.path.join(self.work, "store"))
            self.ingest_s = self.wl.setup(self.engine)
            t = time.perf_counter()
            self.warm_results = [self._run_op(op, Window()) for op in self.wl.warmup()]
            self.warmup_s = time.perf_counter() - t
            self.setup_wall_s = time.perf_counter() - t0
            self.setup_cpu_s = tree_cpu_s(os.getpid()) - cpu0
            self.op_iter = self.wl.ops() if hasattr(self.wl, "ops") else None
            if self.tracer is not None:
                self.span = self.tracer.span
                self.tracer.bookkeeping_s = 0.0
            self.files_before = report.store_files(self.engine.storage_path)
            self.measured = self.window(self.args.seconds)
        finally:
            try:
                if self.tracer is not None:
                    self.tracer.restore()
                stop_spark(spark)
            finally:
                self.peak_rss = rss.stop()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "jasminegraph_spark", "__init__.py")):
        print("graphbench: no jasminegraph_spark package beside the benchmark; "
              "run it from the root of a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_DATA
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path[:0] = [HERE, ROOT]
    import report
    runner = Runner(args, work)
    try:
        runner.run()
        out = report.build(runner)
        if runner.tracer is not None:
            report.write_spans(runner, os.path.join(ROOT, ".bench_work", "traces"))
    finally:
        runner.wl.close()
        shutil.rmtree(work, ignore_errors=True)
    for line in out["lines"]:
        print(line)
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
