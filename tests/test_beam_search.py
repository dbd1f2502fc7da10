"""Semantic beam search (the `semantic-beam-search` verb's core)."""

import pytest

from jasminegraph_spark.analytics.beam_search import semantic_beam_search


@pytest.mark.sweep  # r14: multi-minute quality/property row -> sweep tier (see pyproject)
def test_beam_search_on_grid(spark):
    # path graph 0-1-2-...-9; embeddings = 2D points on a line so that
    # cosine to the query [1, 0.1] ranks nodes deterministically
    edges = spark.createDataFrame([(i, i + 1) for i in range(9)], ["src", "dst"])
    emb = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    beam = semantic_beam_search(
        edges, emb, query_vec=[1.0, 0.1], beam_width=2, hops=3, undirected=True
    )
    rows = beam.collect()
    # seeds: node 0 ([1,0]) most aligned with [1,0.1]; runner-up node 1
    seeds = sorted(r["node"] for r in rows if r["hop"] == 0)
    assert seeds == [0, 1]
    # every hop-h node's path has h+1 entries and walks real edges
    for r in rows:
        assert len(r["path"]) == r["hop"] + 1
        for a, b in zip(r["path"], r["path"][1:]):
            assert abs(a - b) == 1
    # frontier never revisits: all nodes distinct across the beam
    nodes = [r["node"] for r in rows]
    assert len(nodes) == len(set(nodes))
