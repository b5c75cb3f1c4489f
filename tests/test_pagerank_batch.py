"""Bounded-batch PageRank kernels (round 12) == the distributed plans.

Same contract as tests/test_svd_batch.py: elementwise agreement at 1e-9
absolute and exact equality at the gate queries' 6-decimal rounding.
"""

from __future__ import annotations

import pytest

from pyspark_graph_spark.constants import ID
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.operators.pagerank import (
    PageRank,
    parallel_personalized_pagerank,
)


def _graph(spark, directed=False):
    edges = [
        (0, 1), (1, 2), (2, 3), (3, 0), (2, 4), (4, 5), (5, 2),
        (6, 7), (7, 6), (3, 6), (8, 8), (1, 4),
    ]
    v = spark.createDataFrame([(i,) for i in range(10)], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    return Graph(v, e, directed=directed, indexed=True)


def _wgraph(spark):
    edges = [
        (0, 1, 3.0), (1, 2, 1.0), (2, 0, 2.0), (2, 3, 5.0),
        (3, 1, 1.0), (4, 0, 2.0), (0, 4, 1.0),
    ]
    v = spark.createDataFrame([(i,) for i in range(6)], "id long")
    e = spark.createDataFrame(edges, "src long, dst long, w double")
    return Graph(v, e, directed=True, indexed=True)


def _pin_map(a, b, val_col):
    am = {r[ID]: r[val_col] for r in a.collect()}
    bm = {r[ID]: r[val_col] for r in b.collect()}
    assert set(am) == set(bm)
    for k in am:
        assert am[k] == pytest.approx(bm[k], abs=1e-9)
        assert round(am[k], 6) == round(bm[k], 6)


def test_pagerank_batch_equals_distributed(spark):
    g = _graph(spark)
    a = PageRank(alpha=0.85, max_iterations=3).run(g)
    b = PageRank(alpha=0.85, max_iterations=3, batch_finish=0).run(g)
    _pin_map(a, b, "pagerank")


def test_personalized_batch_equals_distributed(spark):
    g = _graph(spark, directed=True)
    a = PageRank(alpha=0.85, max_iterations=3, sources=[0, 1]).run(g)
    b = PageRank(
        alpha=0.85, max_iterations=3, sources=[0, 1], batch_finish=0
    ).run(g)
    _pin_map(a, b, "pagerank")


def test_weighted_batch_equals_distributed(spark):
    g = _wgraph(spark)
    a = PageRank(alpha=0.85, max_iterations=3, weight_col="w").run(g)
    b = PageRank(
        alpha=0.85, max_iterations=3, weight_col="w", batch_finish=0
    ).run(g)
    _pin_map(a, b, "pagerank")


def test_tolerance_batch_equals_distributed(spark):
    g = _graph(spark)
    a = PageRank(alpha=0.85, max_iterations=20, tolerance=1e-4).run(g)
    b = PageRank(
        alpha=0.85, max_iterations=20, tolerance=1e-4, batch_finish=0
    ).run(g)
    _pin_map(a, b, "pagerank")


def test_ppr_multi_batch_equals_distributed(spark):
    g = _graph(spark, directed=True)
    a = parallel_personalized_pagerank(
        g, sources=[0, 6], alpha=0.85, max_iterations=3
    )
    b = parallel_personalized_pagerank(
        g, sources=[0, 6], alpha=0.85, max_iterations=3, batch_finish=0
    )
    am = {(r[ID], r["source"]): r["pagerank"] for r in a.collect()}
    bm = {(r[ID], r["source"]): r["pagerank"] for r in b.collect()}
    assert set(am) == set(bm)  # identical sparse row sets
    for k in am:
        assert am[k] == pytest.approx(bm[k], abs=1e-9)
        assert round(am[k], 6) == round(bm[k], 6)


def test_ppr_multi_nonpositive_weight_defers_to_distributed(spark):
    """Negative weights break the positive-mass ⇔ sparse-row-set
    equivalence the dense kernel relies on — it must defer, and the
    deferred run must equal the pure-distributed one. (Zero weights are
    a loud ANSI divide-by-zero in BOTH paths — the deg sum divides —
    so they need no deferral test.)"""
    v = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    e = spark.createDataFrame(
        [(0, 1, -1.0), (1, 2, 1.0)], "src long, dst long, w double"
    )
    g = Graph(v, e, directed=True, indexed=True)
    a = parallel_personalized_pagerank(
        g, sources=[0], alpha=0.85, max_iterations=2, weight_col="w"
    )
    b = parallel_personalized_pagerank(
        g, sources=[0], alpha=0.85, max_iterations=2, weight_col="w",
        batch_finish=0,
    )
    am = {(r[ID], r["source"]): r["pagerank"] for r in a.collect()}
    bm = {(r[ID], r["source"]): r["pagerank"] for r in b.collect()}
    assert am == bm  # deferred == distributed, including the row set


@pytest.mark.parametrize("directed", [True, False], ids=["directed", "undirected"])
def test_distributed_null_vertex_id_joins_no_edge(spark, directed):
    # a null id matches no edge endpoint, as in a join: the null vertex
    # sends no rank and receives none, so it keeps its reset mass
    v = spark.createDataFrame([(0,), (1,), (2,), (None,)], "id long")
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, None), (None, 0)], "src long, dst long"
    )
    g = Graph(v, e, directed=directed, indexed=True)
    got = PageRank(max_iterations=3, batch_finish=0).run(g).collect()
    null = [r["pagerank"] for r in got if r[ID] is None]
    assert null == [pytest.approx(0.15, abs=1e-12)]
