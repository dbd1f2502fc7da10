import filecmp
import os

import numpy as np
import pytest

import gen


def _files(d):
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs)


@pytest.mark.parametrize("seed", [0, 7])
def test_same_seed_same_bytes(tmp_path, seed):
    for out in ("a", "b"):
        d = str(tmp_path / out)
        gen.social_graph(d, seed, 5, 4)
        gen.edge_list(d, seed, 5, 4)
        gen.edge_stream(d, seed, 5, 4, 3)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    names = _files(a)
    assert names == _files(b) and len(names) == 9
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors


def test_seeds_differ(tmp_path):
    x = gen.edge_list(str(tmp_path / "x"), 1, 5, 4)
    y = gen.edge_list(str(tmp_path / "y"), 2, 5, 4)
    assert not np.array_equal(x.edges, y.edges)


def test_rmat_edges_are_simple_and_in_range():
    e = gen.rmat_edges(gen.rng_for(3, "t"), 6, 8)
    assert (e[:, 0] != e[:, 1]).all()
    assert len(np.unique(e, axis=0)) == len(e)
    assert e.min() >= 0 and e.max() < 64


def test_edge_list_holds_each_undirected_edge_once(tmp_path):
    el = gen.edge_list(str(tmp_path), 4, 6, 8)
    und = gen.undirected_simple(el.edges)
    assert len(und) == len(el.edges)
    with open(el.path) as fh:
        assert sum(1 for _ in fh) == len(el.edges)


def test_stream_files_partition_the_stream(tmp_path):
    es = gen.edge_stream(str(tmp_path), 5, 5, 4, 4)
    assert sorted(os.listdir(es.source_dir)) == [f"part-{i:04d}.json" for i in range(4)]
    assert sum(len(c) for c in es.file_edges) == len(es.edges)


def test_social_wire_lines_cover_every_edge(tmp_path):
    sg = gen.social_graph(str(tmp_path), 6, 4, 4)
    with open(sg.wire_path) as fh:
        lines = fh.readlines()
    assert len(lines) == len(sg.knows) + 2 * sg.n_persons
