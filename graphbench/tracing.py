"""Traced-run machinery: spans around the engine's layer boundaries and
exact Spark counters per operation.

Spans are recorded from the benchmark's side only: :class:`Tracer`
replaces each public callable named in :data:`TARGETS` at every place the
engine's modules hold a reference to it (the class, the defining module
and each ``from … import`` site), and puts the originals back on
``restore()``. Every span runs its Spark jobs under a job group of its
own, so the status tracker attributes each job to exactly one span.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

JOB_GROUP = "spark.jobGroup.id"

#: (module, attribute, span name); span names are ``<layer>.<what>``
TARGETS = (
    ("jasminegraph_spark.cypher.parser", "parse", "cypher.parse"),
    ("jasminegraph_spark.cypher.compiler", "_compile_parsed", "cypher.compile"),
    ("jasminegraph_spark.cypher.write", "cypher_write", "cypher.write"),
    ("jasminegraph_spark.perf", "PerfCatalog.record", "perf.record"),
    ("jasminegraph_spark.graph", "GraphCatalog.save", "graph.save"),
    ("jasminegraph_spark.graph", "GraphCatalog.load", "graph.load"),
    ("jasminegraph_spark.sources.readers", "read_property_graph_jsonl", "sources.read_json"),
    ("jasminegraph_spark.sources.readers", "read_edge_list", "sources.read_edge_list"),
    ("jasminegraph_spark.cache", "checkpoint", "cache.checkpoint"),
    ("jasminegraph_spark.analytics.graph_algs", "triangle_count", "analytics.trian"),
    ("jasminegraph_spark.analytics.graph_algs", "pagerank", "analytics.pgrnk"),
    ("jasminegraph_spark.analytics.graph_algs", "degree_distribution", "analytics.idegree"),
    ("jasminegraph_spark.analytics.graph_algs", "egonet", "analytics.egonet"),
    ("jasminegraph_spark.analytics.components", "connected_components", "analytics.wcc"),
    ("jasminegraph_spark.streaming.ingest", "EdgeStreamIngest._process_batch", "stream.add_batch"),
    ("jasminegraph_spark.streaming.ingest", "StreamingTriangleCounter.process_batch",
     "strian.process_batch"),
)


@dataclass
class Span:
    name: str
    start: float  # seconds on the tracer's epoch-aligned clock
    end: float | None
    parent: int | None
    op: str | None
    group: str
    prev_group: str | None = None  # job group to restore when the span ends
    jobs: list = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list = []
        self.op: str | None = None  # id of the operation being measured
        self._local = threading.local()
        self._lock = threading.Lock()  # streaming callbacks open spans on their own thread
        self._patches: list = []  # (owner, attribute, original)
        self.bookkeeping_s = 0.0  # time spent in begin/end: the tracing overhead
        # perf_counter resolution on the wall clock Spark stamps jobs with
        self._epoch = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch + time.perf_counter()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> int:
        t0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            span = Span(name, self.now(), None, stack[-1] if stack else None, self.op,
                        f"gb{idx}", self.sc.getLocalProperty(JOB_GROUP))
            self.spans.append(span)
        self.sc.setLocalProperty(JOB_GROUP, span.group)
        stack.append(idx)
        self.bookkeeping_s += time.perf_counter() - t0
        return idx

    def end(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = self.now()
        t0 = time.perf_counter()
        self._stack().pop()
        self.sc.setLocalProperty(JOB_GROUP, span.prev_group)
        self.bookkeeping_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield self.spans[idx]
        finally:
            self.end(idx)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        return traced

    def _patch(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, value)

    def install(self) -> None:
        for mod_name, attr, span_name in TARGETS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                self._patch(cls, meth, self._wrap(cls.__dict__[meth], span_name))
                continue
            original = getattr(mod, attr)
            wrapped = self._wrap(original, span_name)
            # every engine module that imported the callable by name
            for name, other in list(sys.modules.items()):
                if other is None or not name.startswith("jasminegraph_spark"):
                    continue
                for key, value in list(vars(other).items()):
                    if value is original:
                        self._patch(other, key, wrapped)

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)


# ------------------------------------------------------------ Spark side --

class SparkCounters:
    """Exact per-job-group counts from the status tracker and the app
    status store (both work with the UI off)."""

    def __init__(self, sc):
        self.sc = sc
        self.jsc = sc._jsc.sc()  # noqa: SLF001 - the status store is JVM-only
        self.store = self.jsc.statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every job/stage event,
        so the store holds final numbers."""
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job(self, job_id: int) -> dict:
        data = self.store.job(job_id)
        sub, done = data.submissionTime(), data.completionTime()
        out = {
            "id": job_id,
            "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
            "stages": 0, "tasks": 0, "input_bytes": 0, "shuffle_write_bytes": 0,
        }
        info = self.sc.statusTracker().getJobInfo(job_id)
        for stage_id in (info.stageIds if info else ()):
            try:
                st = self.store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["input_bytes"] += st.inputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list) -> list:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)
    out = []
    for i, s in enumerate(spans):
        kids = [(spans[k].start, spans[k].end) for k in children.get(i, ())]
        out.append((s.end - s.start) - covered(clip(kids, s.start, s.end)))
    return out
