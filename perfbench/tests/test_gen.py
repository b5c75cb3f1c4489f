"""The input generator is a pure function of (workload, seed, size)."""

import os

import numpy as np

from perfbench import gen

SIZE = gen.GraphSize(10, 6_000)


def _files(path):
    out = {}
    for name in ("vertices.parquet", "edges.parquet"):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = f.read()
    return out


def test_same_seed_gives_identical_content(tmp_path):
    a = gen.cached_graph(str(tmp_path / "a"), "w", 7, SIZE, both_directions=True)
    b = gen.cached_graph(str(tmp_path / "b"), "w", 7, SIZE, both_directions=True)
    assert _files(a) == _files(b)
    ga, gb = gen.read_graph(a), gen.read_graph(b)
    for key in ("ids", "src", "dst"):
        np.testing.assert_array_equal(ga[key], gb[key])


def test_other_seed_gives_other_edges():
    s1, _ = gen.rmat_edges(SIZE, 1)
    s2, _ = gen.rmat_edges(SIZE, 2)
    assert len(s1) != len(s2) or not np.array_equal(s1, s2)


def test_edges_are_distinct_loop_free_and_canonical():
    src, dst = gen.rmat_edges(SIZE, 3)
    assert np.all(src < dst)
    assert len(np.unique(src * (1 << SIZE.scale) + dst)) == len(src)
    assert src.min() >= 0 and dst.max() < (1 << SIZE.scale)


def test_both_directions_holds_each_edge_twice(tmp_path):
    path = gen.cached_graph(str(tmp_path), "w", 4, SIZE, both_directions=True)
    g = gen.read_graph(path)
    src, dst = gen.rmat_edges(SIZE, 4)
    assert len(g["src"]) == 2 * len(src)
    fwd = set(zip(g["src"].tolist(), g["dst"].tolist()))
    assert fwd == {(d, s) for s, d in fwd}
    np.testing.assert_array_equal(g["ids"], np.arange(1 << SIZE.scale))
