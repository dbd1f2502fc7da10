"""Seeded input generator for the graph-server benchmark.

Everything the engine reads is produced here from ``(seed, sizes)`` alone,
with numpy's PCG64 stream, so two checkouts given the same seed read
byte-identical files. Nothing here imports the engine: the program under
test only ever sees the files written below, and the oracles read the
parquet copies.

Three inputs:

* ``social_graph`` — a property graph in the reference's edge wire format
  (one JSON edge per line with inline source/destination nodes):
  ``Person`` nodes joined by R-MAT ``KNOWS`` edges, plus one ``LIVES_IN``
  edge to a ``City`` and one ``WORKS_AT`` edge to a ``Company`` per person.
* ``edge_list`` — an undirected R-MAT edge list, one ``src dst`` per line.
* ``edge_stream`` — an R-MAT edge stream in the wire format, split into
  numbered files for a file-directory stream source.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Graph500 R-MAT quadrant probabilities (a, b, c; d = 1 - a - b - c)
RMAT_ABC = (0.57, 0.19, 0.19)

N_CITIES = 64
N_COMPANIES = 256
N_INDUSTRIES = 16


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, named stream), so adding a
    stream never shifts the numbers another one draws."""
    key = [seed] + [ord(c) for c in stream]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(key)))


def rmat_edges(rng: np.random.Generator, scale: int, edge_factor: int) -> np.ndarray:
    """Directed R-MAT edges ``(m, 2)`` over ``2**scale`` vertices with
    vertex labels scrambled by a seeded permutation (Graph500 style, so
    hubs are not simply the low ids). Self-loops and repeated pairs are
    dropped; rows come out in a deterministic order."""
    n, m = 1 << scale, edge_factor << scale
    a, b, c = RMAT_ABC
    src = np.zeros(m, dtype=np.int64)
    dst = np.zeros(m, dtype=np.int64)
    for bit in range(scale):
        r = rng.random(m)
        # quadrant: a → (0,0), b → (0,1), c → (1,0), d → (1,1)
        src_bit = r >= a + b
        dst_bit = ((r >= a) & (r < a + b)) | (r >= a + b + c)
        src |= src_bit.astype(np.int64) << bit
        dst |= dst_bit.astype(np.int64) << bit
    perm = rng.permutation(n)
    src, dst = perm[src], perm[dst]
    keep = src != dst
    pairs = np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)
    # unique() sorts; shuffle back into a seeded arrival order
    return pairs[rng.permutation(len(pairs))]


def undirected_simple(pairs: np.ndarray) -> np.ndarray:
    """Canonical (lo, hi) rows of the simple undirected graph."""
    lo = np.minimum(pairs[:, 0], pairs[:, 1])
    hi = np.maximum(pairs[:, 0], pairs[:, 1])
    return np.unique(np.stack([lo, hi], axis=1), axis=0)


def _wire_line(src_id, src_props, dst_id, dst_props, edge_props) -> str:
    return json.dumps(
        {
            "source": {"id": src_id, "properties": src_props},
            "destination": {"id": dst_id, "properties": dst_props},
            "properties": edge_props,
        },
        separators=(",", ":"),
    )


def _write_parquet(path: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), path, compression="zstd")


@dataclass
class SocialGraph:
    """The social property graph, as files plus the arrays the oracles and
    the request generator use."""

    wire_path: str  # JSON-lines file for add_json_graph
    persons_parquet: str
    edges_parquet: str
    n_persons: int
    knows: np.ndarray  # (m, 2) person indices, src → dst
    age: np.ndarray
    score: np.ndarray
    city: np.ndarray  # city index per person
    company: np.ndarray  # company index per person


def person_id(i) -> str:
    return f"p{int(i)}"


def city_id(j) -> str:
    return f"c{int(j)}"


def company_id(k) -> str:
    return f"co{int(k)}"


def score_str(v) -> str:
    # zero-padded so string order equals numeric order
    return f"{int(v):07d}"


def social_graph(out_dir: str, seed: int, scale: int, edge_factor: int) -> SocialGraph:
    rng = rng_for(seed, "social")
    n = 1 << scale
    knows = rmat_edges(rng, scale, edge_factor)
    age = rng.integers(18, 80, size=n)
    score = rng.permutation(n)  # unique, so ORDER BY score has one answer
    city = rng.integers(0, N_CITIES, size=n)
    company = rng.integers(0, N_COMPANIES, size=n)

    def pprops(i):
        return {
            "label": "Person",
            "name": f"name{int(i)}",
            "age": str(int(age[i])),
            "score": score_str(score[i]),
        }

    cprops = [{"label": "City", "name": f"city{j}"} for j in range(N_CITIES)]
    coprops = [
        {"label": "Company", "industry": f"ind{k % N_INDUSTRIES}"} for k in range(N_COMPANIES)
    ]
    os.makedirs(out_dir, exist_ok=True)
    wire_path = os.path.join(out_dir, "social.jsonl")
    with open(wire_path, "w") as fh:
        for s, d in knows:
            fh.write(_wire_line(person_id(s), pprops(s), person_id(d), pprops(d),
                                {"type": "KNOWS"}) + "\n")
        for i in range(n):
            fh.write(_wire_line(person_id(i), pprops(i), city_id(city[i]),
                                cprops[city[i]], {"type": "LIVES_IN"}) + "\n")
            fh.write(_wire_line(person_id(i), pprops(i), company_id(company[i]),
                                coprops[company[i]], {"type": "WORKS_AT"}) + "\n")
    persons_parquet = os.path.join(out_dir, "persons.parquet")
    _write_parquet(persons_parquet, {
        "idx": np.arange(n), "age": age, "score": score,
        "city": city, "company": company,
    })
    edges_parquet = os.path.join(out_dir, "knows.parquet")
    _write_parquet(edges_parquet, {"src": knows[:, 0], "dst": knows[:, 1]})
    return SocialGraph(wire_path, persons_parquet, edges_parquet, n, knows,
                       age, score, city, company)


@dataclass
class EdgeList:
    path: str  # whitespace edge list for add_graph
    parquet: str
    edges: np.ndarray  # (m, 2) as written, each undirected edge once


def edge_list(out_dir: str, seed: int, scale: int, edge_factor: int) -> EdgeList:
    rng = rng_for(seed, "edge_list")
    und = undirected_simple(rmat_edges(rng, scale, edge_factor))
    # write each undirected edge once, in a seeded order and orientation
    und = und[rng.permutation(len(und))]
    flip = rng.random(len(und)) < 0.5
    und[flip] = und[flip][:, ::-1]
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "graph.dl")
    with open(path, "w") as fh:
        fh.write("".join(f"{s} {d}\n" for s, d in und))
    parquet = os.path.join(out_dir, "graph.parquet")
    _write_parquet(parquet, {"src": und[:, 0], "dst": und[:, 1]})
    return EdgeList(path, parquet, und)


@dataclass
class EdgeStream:
    source_dir: str  # directory of wire-format files, read in name order
    parquet: str
    edges: np.ndarray  # (m, 2) all streamed edges
    file_edges: list  # per file, the (k, 2) edges it holds


def edge_stream(out_dir: str, seed: int, scale: int, edge_factor: int,
                n_files: int) -> EdgeStream:
    rng = rng_for(seed, "edge_stream")
    edges = rmat_edges(rng, scale, edge_factor)
    source_dir = os.path.join(out_dir, "topic")
    os.makedirs(source_dir, exist_ok=True)
    chunks = np.array_split(edges, n_files)
    for f, chunk in enumerate(chunks):
        with open(os.path.join(source_dir, f"part-{f:04d}.json"), "w") as fh:
            for s, d in chunk:
                fh.write(_wire_line(str(s), {"label": "V"}, str(d), {"label": "V"},
                                    {"type": "E"}) + "\n")
    parquet = os.path.join(out_dir, "stream.parquet")
    _write_parquet(parquet, {
        "src": edges[:, 0], "dst": edges[:, 1],
        "file": np.repeat(np.arange(n_files), [len(c) for c in chunks]),
    })
    return EdgeStream(source_dir, parquet, edges, chunks)
