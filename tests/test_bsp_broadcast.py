"""The BSP loops' two join branches, and the hash-aggregate stars.

PageRank, Pregel (ConnectedComponents, LabelPropagation) and the
alternating stars ship their vertex-sized side to the static edge table
by broadcast while it fits ``spark.sql.autoBroadcastJoinThreshold``
(``util.broadcast_if_small``), and run the plain join above it. Both
branches must give the same answer, checked here with the threshold at
its default and at -1 on degenerate inputs. The stars must return exactly
the edge sets of a pure-Python large-star and small-star (Kiveris et al.,
SOCC'14) on random multigraphs.
"""

from __future__ import annotations

import random
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.operators.connected_components import (
    AlternatingConnectedComponents,
    ConnectedComponents,
    _large_star,
    _small_star,
)
from pyspark_graph_spark.operators.label_propagation import LabelPropagation
from pyspark_graph_spark.operators.pagerank import PageRank
from pyspark_graph_spark.util import broadcast_if_small

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _with_threshold(spark, value, fn):
    """``fn()`` with the broadcast threshold at ``value`` (None: as set)."""
    before = spark.conf.get(THRESHOLD)
    try:
        if value is not None:
            spark.conf.set(THRESHOLD, value)
        return fn()
    finally:
        spark.conf.set(THRESHOLD, before)


def _both_branches(spark, fn):
    return [_with_threshold(spark, v, fn) for v in (None, "-1")]


def test_broadcast_if_small_follows_the_threshold(spark):
    df = spark.createDataFrame([(1, 2.0, "a")], "id long, x double, s string")
    # 8 + 8 + 8 + 20 = 44 bytes a row, as Spark estimates rows
    assert broadcast_if_small(df, 10) is not df
    assert _with_threshold(spark, "4400b", lambda: broadcast_if_small(df, 100)) is not df
    assert _with_threshold(spark, "4400b", lambda: broadcast_if_small(df, 101)) is df
    assert _with_threshold(spark, "1k", lambda: broadcast_if_small(df, 23)) is not df
    assert _with_threshold(spark, "-1", lambda: broadcast_if_small(df, 0)) is df
    assert broadcast_if_small(df, None) is df
    arr = spark.createDataFrame([(1, [1])], "id long, a array<long>")
    assert broadcast_if_small(arr, 1) is arr  # no fixed size estimate


# ---- both join branches agree ----------------------------------------------


GRAPHS = {
    # edges reach ids outside the (empty) vertex table
    "no_vertices": ([], [(0, 1), (1, 2), (2, 0), (3, 1)]),
    # 5-7 have no edges; 4 has no out-edge
    "isolated": (range(8), [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (0, 4)]),
    "self_loops": (range(5), [(0, 0), (0, 1), (1, 2), (2, 2), (3, 3), (2, 4)]),
    "duplicates": (
        range(6),
        [(0, 1), (1, 0), (0, 1), (1, 2), (2, 1), (3, 4), (4, 3), (3, 4), (4, 5)],
    ),
}


def _graph(spark, vertices, edges, directed):
    v = spark.createDataFrame([(i,) for i in vertices], f"{ID} long")
    e = spark.createDataFrame(
        [(s, d, 1.0 + (s + 2 * d) % 3) for s, d in edges],
        f"{SRC} long, {DST} long, weight double",
    )
    return Graph(v, e, directed=directed, indexed=True)


def _rows(df, col):
    return sorted((r[ID], r[col]) for r in df.collect())


@pytest.mark.parametrize("directed", [True, False], ids=["directed", "undirected"])
@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_pagerank_join_branches_agree(spark, name, directed):
    g = _graph(spark, *GRAPHS[name], directed)
    for kw in ({}, {"sources": [0, 3]}, {"weight_col": "weight"}):
        op = PageRank(max_iterations=4, batch_finish=0, **kw)
        a, b = _both_branches(spark, lambda: _rows(op.run(g), "pagerank"))
        assert [r[0] for r in a] == [r[0] for r in b], kw
        for (_, x), (_, y) in zip(a, b):
            assert abs(x - y) <= 1e-9 * max(1.0, abs(y)), kw


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_label_operators_join_branches_agree(spark, name):
    g = _graph(spark, *GRAPHS[name], False)
    for make, col in (
        (lambda: ConnectedComponents(batch_finish=0), "component"),
        (lambda: AlternatingConnectedComponents(batch_finish=0), "component"),
        (lambda: LabelPropagation(max_iterations=3), "label"),
    ):
        a, b = _both_branches(spark, lambda: _rows(make().run(g), col))
        assert a == b, col


# ---- the stars equal a pure-Python reference --------------------------------


def _reference_large_star(edges):
    nbrs = defaultdict(set)
    for u, v in edges:
        if u != v:
            nbrs[u].add(v)
            nbrs[v].add(u)
    out = set()
    for u, ns in nbrs.items():
        m = min(ns | {u})
        out |= {(v, m) for v in ns if v > u}
    return out


def _reference_small_star(edges):
    smaller = defaultdict(set)
    for u, v in edges:
        if u != v:
            smaller[max(u, v)].add(min(u, v))
    out = set()
    for u, ns in smaller.items():
        m = min(ns)
        out |= {(v, m) for v in ns | {u} if v != m}
    return out


def _multigraph(seed):
    """Random edges over few ids, with duplicates, reversals and loops."""
    rng = random.Random(seed)
    n = rng.randint(2, 14)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(0, 30))]
    edges += rng.sample(edges, len(edges) // 3)  # duplicates
    edges += [(d, s) for s, d in rng.sample(edges, len(edges) // 3)]  # reversals
    edges += [(i, i) for i in rng.sample(range(n), n // 4)]  # self-loops
    rng.shuffle(edges)
    return edges


@pytest.mark.parametrize("seed", range(8))
def test_stars_match_the_reference(spark, seed):
    edges = _multigraph(seed)
    df = spark.createDataFrame(edges, f"{SRC} long, {DST} long")
    for star, reference in (
        (_large_star, _reference_large_star),
        (_small_star, _reference_small_star),
    ):
        for got in _both_branches(
            spark, lambda: {tuple(r) for r in star(df).select(SRC, DST).collect()}
        ):
            assert got == reference(edges), star.__name__


def test_small_star_output_holds_no_repeats(spark):
    # the round's one dedup: its checkpoint is what the fingerprint reads
    df = spark.createDataFrame(_multigraph(3), f"{SRC} long, {DST} long")
    out = _small_star(_large_star(df))
    assert out.count() == out.distinct().count()
    assert out.filter(F.col(SRC) <= F.col(DST)).count() == 0  # edges point down


def test_alternating_cc_sees_a_fixpoint_input_in_round_one(spark):
    # every pair already points down at its component minimum (one twice):
    # round 1 reproduces the deduped pairs, so the fixpoint is detected there
    g = _graph(spark, range(10), [(5, 1), (6, 1), (6, 1), (9, 2), (3, 2)], False)
    op = AlternatingConnectedComponents(batch_finish=0)
    got = _rows(op.run(g), "component")
    assert got == [(0, 0), (1, 1), (2, 2), (3, 2), (4, 4), (5, 1), (6, 1),
                   (7, 7), (8, 8), (9, 2)]
    assert op.rounds_run == 1
