"""The benchmark's workloads: one client, closed loop (the next request is
sent when the previous one has returned), driving only the engine's
public entry points with a ``storage_path`` so the perf ledger is on, as
the CLI's ``--store`` runs it.

Each workload has four phases:

* ``generate`` writes its inputs from the seed (untimed);
* ``setup`` ingests the input into the engine's store through the public
  call;
* ``warmup`` serves the first request and, for the Cypher workloads, then
  runs every operation kind once, so first-call JIT and plan-code
  generation stay out of the window (the runner measures set-up and
  warm-up together as ``setup_s``);
* ``ops`` yields the measured operations. Each has a timed ``run`` and an
  untimed ``check`` against an oracle in :mod:`oracle`.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass
from typing import Any, Callable, NamedTuple

import numpy as np

import gen
import oracle

GRAPH = "g"

#: input sizes; R-MAT ``scale`` gives ``2**scale`` vertices and
#: ``edge_factor << scale`` drawn edges
SOCIAL_SCALE, SOCIAL_EF = 12, 8
RMAT_SCALE, RMAT_EF = 10, 8
STREAM_SCALE, STREAM_EF, STREAM_FILES = 12, 8, 40

#: request mixes per cycle of 8. Windows end on a cycle boundary, so every
#: run measures the same mix; a cycle is short so that one fits the time
#: budget of a run at today's ~1.5 s per request.
READ_MIX = {"seek": 3, "hop1": 1, "hop2": 1, "filter_count": 1, "topk": 1, "group_agg": 1}
#: every read template once, plus 25% writes
RW_MIX = {"seek": 1, "hop1": 1, "hop2": 1, "filter_count": 1, "topk": 1, "group_agg": 1,
          "create": 1, "set": 1}
ANALYTICS_PASS = ("trian", "pgrnk", "wcc", "idegree", "egonet")
ZIPF_S = 1.1


def no_span(name):
    return contextlib.nullcontext()


@dataclass
class Op:
    kind: str  # "read", "write" or "analytics": what the report groups by
    template: str
    run: Callable[[Callable], Any]  # timed; takes the span factory
    check: Callable[[Any], bool]  # untimed


class Result(NamedTuple):
    kind: str
    template: str
    seconds: float
    ok: bool
    cpu_s: float = 0.0  # process-tree CPU spent inside the operation


def smooth_cycle(mix: dict) -> list:
    """One cycle of the mix with each kind spread evenly over it: every
    prefix is as close to the mix proportions as it can be."""
    total = sum(mix.values())
    sent = dict.fromkeys(mix, 0)
    cycle = []
    for t in range(1, total + 1):
        kind = max(mix, key=lambda k: mix[k] * t / total - sent[k])
        sent[kind] += 1
        cycle.append(kind)
    return cycle


# ----------------------------------------------------------------- Cypher --

class Requests:
    """Seeded request parameters. Start vertices are Zipf(1.1) over a
    seeded ranking of the persons, so hot keys repeat."""

    def __init__(self, sg: gen.SocialGraph, seed: int):
        self.rng = gen.rng_for(seed, "requests")
        self.n = sg.n_persons
        weights = np.arange(1, self.n + 1, dtype=np.float64) ** -ZIPF_S
        self.cdf = np.cumsum(weights) / weights.sum()
        self.ranking = self.rng.permutation(self.n)
        self.knows = set(map(tuple, sg.knows.tolist()))
        self.verify: dict = {}  # template → written person the next such read targets

    def hot(self) -> int:
        return int(self.ranking[min(np.searchsorted(self.cdf, self.rng.random()), self.n - 1)])

    def params(self, template: str) -> dict:
        rng = self.rng
        if template in ("seek", "hop1", "hop2"):
            i = self.verify.pop(template, None)
            i = self.hot() if i is None else i
            return {"p": gen.person_id(i), "i": i}
        if template == "filter_count":
            lo = int(rng.integers(18, 76))
            return {"lo": str(lo), "hi": str(lo + 5)}
        if template == "topk":
            c = int(rng.integers(gen.N_CITIES))
            return {"c": gen.city_id(c), "city": c}
        if template == "group_agg":
            k = int(rng.integers(gen.N_INDUSTRIES))
            return {"ind": f"ind{k}", "industry": k}
        if template == "create":
            a = self.hot()
            while True:  # a new edge, so exactly one is created
                b = int(rng.integers(self.n))
                if b != a and (a, b) not in self.knows:
                    break
            self.knows.add((a, b))
            self.verify["hop1"] = a
            return {"a": gen.person_id(a), "b": gen.person_id(b), "ai": a, "bi": b}
        if template == "set":
            i = self.hot()
            self.verify["seek"] = i
            return {"p": gen.person_id(i), "i": i, "age": str(int(rng.integers(18, 80)))}
        raise ValueError(template)


class CypherWorkload:
    """``cypher_read`` / ``cypher_rw``: requests on the social property
    graph, loaded with ``add_json_graph``."""

    def __init__(self, name: str, mix: dict, seed: int, work: str):
        self.name, self.mix, self.seed, self.work = name, mix, seed, work
        self.cycle_len = sum(mix.values())

    def generate(self) -> None:
        self.sg = gen.social_graph(os.path.join(self.work, "in"), self.seed,
                                   SOCIAL_SCALE, SOCIAL_EF)
        self.oracle = oracle.SocialOracle(self.sg)
        self.requests = Requests(self.sg, self.seed)

    def close(self) -> None:
        if hasattr(self, "oracle"):
            self.oracle.close()

    def setup(self, engine) -> float:
        """Ingest into ``engine``'s store; returns the call's seconds."""
        self.engine = engine
        t0 = time.perf_counter()
        engine.add_json_graph(GRAPH, self.sg.wire_path, is_directed=True)
        return time.perf_counter() - t0

    def warmup(self) -> list:
        # The first request goes through the perf ledger like every
        # measured one; the other reads warm up through an engine without
        # the ledger, whose append would only add its fixed cost to each.
        # Warm-up writes land in the measured store, so the oracle applies
        # them like any other write.
        from jasminegraph_spark.engine import JasmineEngine

        no_ledger = JasmineEngine(self.engine.spark, catalog=self.engine.catalog)
        ops = []
        for t in oracle.READ_TEMPLATES + oracle.WRITE_TEMPLATES:
            if t in self.mix:
                ledger = not ops or t in oracle.WRITE_TEMPLATES
                ops.append(self._op(t, self.requests.params(t),
                                    engine=self.engine if ledger else no_ledger))
        return ops

    def ops(self):
        cycle = smooth_cycle(self.mix)
        k = 0
        while True:
            t = cycle[k % len(cycle)]
            yield self._op(t, self.requests.params(t))
            k += 1

    def _op(self, template: str, params: dict, engine=None) -> Op:
        text = oracle.cypher_text(template, params)
        engine = engine or self.engine
        write = template in oracle.WRITE_TEMPLATES

        def run(span):
            if write:
                return engine.cypher_write(GRAPH, text)
            df = engine.cypher(GRAPH, text)
            with span("cypher.exec"):
                return [tuple(r) for r in df.collect()]

        def check(got) -> bool:
            want = self.oracle.expected(template, params)
            if write:
                ok = [got] == want
                if ok:
                    self.oracle.apply(template, params)
                return ok
            return oracle.same_rows(template, got, want)

        return Op("write" if write else "read", template, run, check)

    def store_edges(self) -> int:
        return int(self.oracle.con.execute("SELECT count(*) FROM knows").fetchone()[0]) \
            + 2 * self.sg.n_persons


# -------------------------------------------------------------- analytics --

class AnalyticsWorkload:
    """``analytics_batch``: whole-graph commands on an undirected R-MAT
    edge list loaded with ``add_graph``. Operations run in whole passes."""

    name = "analytics_batch"
    cycle_len = len(ANALYTICS_PASS)

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    def generate(self) -> None:
        el = gen.edge_list(os.path.join(self.work, "in"), self.seed, RMAT_SCALE, RMAT_EF)
        self.el = el
        e = el.edges
        self.want = {
            "trian": oracle.triangle_count(e),
            "pgrnk": oracle.pagerank(e),
            "wcc": oracle.components(e),
            "idegree": oracle.degree_histogram(e[:, 1]),
        }
        self.adj = oracle.adjacency(oracle.simple_undirected(e))
        self.vertices = np.unique(e)
        self.rng = gen.rng_for(self.seed, "egonet")
        self.n_edges = len(e)

    def close(self) -> None:
        pass

    def setup(self, engine) -> float:
        self.engine = engine
        t0 = time.perf_counter()
        engine.add_graph(GRAPH, self.el.path)
        return time.perf_counter() - t0

    def warmup(self) -> list:
        # Only the first request: it loads the graph and warms the
        # checkpoint and perf-ledger paths. A full warm-up pass would make
        # a run too long for the benchmark's time budget, so the measured
        # pass includes the first call of the other commands.
        return [self._op(ANALYTICS_PASS[0])]

    def ops(self):
        while True:
            for t in ANALYTICS_PASS:
                yield self._op(t)

    def _op(self, template: str) -> Op:
        engine = self.engine
        vertex = int(self.rng.choice(self.vertices)) if template == "egonet" else None

        def collect(span, df, cols):
            with span("analytics.collect"):
                return [tuple(r[c] for c in cols) for r in df.collect()]

        def run(span):
            if template == "trian":
                return engine.triangle_count(GRAPH)
            if template == "pgrnk":
                return collect(span, engine.pagerank(GRAPH, iterations=10), ("node", "rank"))
            if template == "wcc":
                return collect(span, engine.connected_components(GRAPH), ("node", "component"))
            if template == "idegree":
                return collect(span, engine.degree_distribution(GRAPH, "in"),
                               ("degree", "n_nodes"))
            return collect(span, engine.egonet(GRAPH, str(vertex)), ("a", "b"))

        def check(got) -> bool:
            if template == "pgrnk":
                want = self.want["pgrnk"]
                ranks = dict(got)
                return ranks.keys() == want.keys() and all(
                    abs(ranks[v] - r) <= 1e-9 for v, r in want.items())
            if template == "egonet":
                want = oracle.egonet(self.adj, vertex)
                return len(got) == len(want) and {frozenset(p) for p in got} == want
            if template == "trian":
                return got == self.want["trian"]
            return dict(got) == self.want[template]

        return Op("analytics", template, run, check)

    def store_edges(self) -> int:
        return self.n_edges


# -------------------------------------------------------------- streaming --

class StreamWorkload:
    """``stream_ingest``: ``add_stream_with_triangles`` drains a directory
    of wire-format edge files. One operation is one micro-batch; it fails
    when the store does not hold the batch's rows after the drain. The
    running triangle total is one more operation, checked against a
    recount."""

    name = "stream_ingest"

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.drains = 0

    def generate(self) -> None:
        self.es = gen.edge_stream(os.path.join(self.work, "in"), self.seed,
                                  STREAM_SCALE, STREAM_EF, STREAM_FILES)
        self.want_triangles = oracle.triangle_count(self.es.edges)
        self.file_pairs = {
            f"part-{i:04d}.json": {(str(s), str(d)) for s, d in chunk.tolist()}
            for i, chunk in enumerate(self.es.file_edges)
        }
        # set-up drains the first file only, as the first batch served
        self.first_dir = os.path.join(self.work, "in", "first")
        os.makedirs(self.first_dir, exist_ok=True)
        first = sorted(os.listdir(self.es.source_dir))[0]
        shutil.copyfile(os.path.join(self.es.source_dir, first),
                        os.path.join(self.first_dir, first))
        self.n_edges = len(self.es.edges)

    def close(self) -> None:
        pass

    def _drain(self, source_dir: str):
        self.drains += 1
        name = f"s{self.drains}"
        ckpt = os.path.join(self.engine.storage_path, f"_ckpt_{name}")
        _, counter, query = self.engine.add_stream_with_triangles(name, source_dir, ckpt)
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        return name, ckpt, counter, query

    def setup(self, engine) -> float:
        self.engine = engine
        t0 = time.perf_counter()
        self._drain(self.first_dir)
        return time.perf_counter() - t0

    def warmup(self) -> list:
        return []

    def drain(self, span) -> tuple:
        """Drain the whole stream once into a new store entry and check
        it. Returns the drain's wall seconds and one :class:`Result` per
        micro-batch plus one for the triangle total."""
        t0 = time.perf_counter()
        with span("op.drain"):
            name, ckpt, counter, query = self._drain(self.es.source_dir)
        wall = time.perf_counter() - t0
        self.last_store = os.path.join(self.engine.storage_path, name)
        stored = oracle.stored_batches(os.path.join(self.last_store, "edges"))
        self.batches = oracle.source_batches(ckpt)
        self.progress = [p for p in query.recentProgress if p.batchId in self.batches]
        seconds = {p.batchId: p.durationMs.get("triggerExecution", 0) / 1000.0
                   for p in self.progress}
        results = []
        for b, files in sorted(self.batches.items()):
            want = set().union(*(self.file_pairs[f] for f in files))
            results.append(Result("batch", "batch", seconds.get(b, 0.0),
                                  stored.get(b, set()) == want))
        results.append(Result("check", "strian_total", 0.0,
                              counter.total == self.want_triangles))
        self.all_stored = set().union(*stored.values()) == set().union(*self.file_pairs.values())
        return wall, results

    def store_edges(self) -> int:
        return self.n_edges


WORKLOADS = {
    "cypher_read": lambda seed, work: CypherWorkload("cypher_read", READ_MIX, seed, work),
    "cypher_rw": lambda seed, work: CypherWorkload("cypher_rw", RW_MIX, seed, work),
    "analytics_batch": AnalyticsWorkload,
    "stream_ingest": StreamWorkload,
}
