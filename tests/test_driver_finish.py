"""Driver finishes of PageRank, connected components and triangle count.

Below ``batch_finish`` these operators fetch their input with one limited
Arrow collect (``util.fetch_bounded``) and finish in numpy in the driver.
Each must equal its distributed plan (``batch_finish=0``) on degenerate
inputs too, and a small request must cost at most two Spark jobs.
"""

from __future__ import annotations

import pytest

from pyspark_graph_spark.constants import DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.operators.connected_components import (
    AlternatingConnectedComponents,
    ConnectedComponents,
)
from pyspark_graph_spark.operators.pagerank import PageRank
from pyspark_graph_spark.operators.triangle_count import TriangleCount
from pyspark_graph_spark.session import supports_jvm_internals
from pyspark_graph_spark.util import fetch_bounded


def _graph(spark, vertices, edges, directed=False):
    v = spark.createDataFrame([(i,) for i in vertices], f"{ID} long")
    e = spark.createDataFrame(edges, f"{SRC} long, {DST} long")
    return Graph(v, e, directed=directed, indexed=True)


def _rows(df, col):
    return sorted((r[ID], r[col]) for r in df.collect())


def test_fetch_bounded_returns_none_above_the_bound(spark):
    df = spark.range(5)
    assert fetch_bounded(df, 5).num_rows == 5
    assert fetch_bounded(df, 4) is None
    assert fetch_bounded(df.limit(0), 0).num_rows == 0


# ---- empty vertex table with nonempty edges ---------------------------------


def test_pagerank_empty_vertices_matches_distributed(spark):
    g = _graph(spark, [], [(0, 1), (1, 2)])
    a = PageRank(max_iterations=3).run(g)
    b = PageRank(max_iterations=3, batch_finish=0).run(g)
    assert _rows(a, "pagerank") == _rows(b, "pagerank") == []


def test_min_label_cc_empty_vertices_matches_distributed(spark):
    g = _graph(spark, [], [(0, 1), (1, 2)])
    a = ConnectedComponents().run(g)
    b = ConnectedComponents(batch_finish=0).run(g)
    assert _rows(a, "component") == _rows(b, "component") == []


def test_alternating_cc_empty_vertices_matches_distributed(spark):
    # the star read labels edge vertices only; roots come from the vertex
    # table, so with none the component minimum itself is absent
    g = _graph(spark, [], [(0, 1), (1, 2), (5, 6)])
    a = AlternatingConnectedComponents().run(g)
    b = AlternatingConnectedComponents(batch_finish=0).run(g)
    assert _rows(a, "component") == _rows(b, "component")
    assert _rows(a, "component") == [(1, 0), (2, 0), (6, 5)]


# ---- alternating CC: vertex side and contraction tail -----------------------


def test_alternating_cc_front_path_keeps_a_large_vertex_side_in_spark(spark):
    # 3 pairs fit the bound of 4, the 40 vertices do not: the unlabelled
    # vertices come from a Spark anti-join, still without any round
    g = _graph(spark, range(40), [(3, 4), (4, 9), (9, 3), (20, 21), (7, 7)])
    op = AlternatingConnectedComponents(batch_finish=4)
    a = op.run(g)
    b = AlternatingConnectedComponents(batch_finish=0).run(g)
    assert _rows(a, "component") == _rows(b, "component")
    assert not hasattr(op, "rounds_run")


def test_alternating_cc_hands_the_contraction_tail_to_the_driver(spark):
    # a 60-vertex path plus duplicates and reversals: 150 raw pairs and
    # 118 distinct ones exceed the bound of 100; one round leaves fewer
    chain = [(i, i + 1) for i in range(59)]
    edges = chain + [(b, a) for a, b in chain] + chain[:32]
    g = _graph(spark, range(64), edges)
    op = AlternatingConnectedComponents(batch_finish=100)
    a = op.run(g)
    full = AlternatingConnectedComponents(batch_finish=0)
    b = full.run(g)
    assert _rows(a, "component") == _rows(b, "component")
    assert 1 <= op.rounds_run < full.rounds_run


# ---- triangle count: driver kernel == motif join ----------------------------


@pytest.mark.parametrize(
    "vertices, edges",
    [
        # isolated vertices
        (range(8), [(0, 1), (1, 2), (2, 0), (2, 3)]),
        # self-loops
        (range(4), [(0, 0), (0, 1), (1, 2), (2, 0), (3, 3), (2, 2)]),
        # duplicate edges, both orientations
        (range(5), [(0, 1), (1, 0), (0, 1), (1, 2), (2, 1), (0, 2), (2, 0),
                    (2, 3), (3, 0), (3, 0), (1, 3)]),
        # empty edge table
        (range(3), []),
    ],
    ids=["isolated", "self_loops", "duplicates", "no_edges"],
)
def test_triangle_count_driver_path_matches_motif(spark, vertices, edges):
    g = _graph(spark, vertices, edges)
    assert TriangleCount().run(g) == TriangleCount(strategy="motif").run(g)


# ---- job count -------------------------------------------------------------


def _small_graph(spark):
    edges = [(i, (i * 7 + 3) % 50) for i in range(50)] + [
        (i, i + 1) for i in range(0, 48, 2)
    ]
    return _graph(spark, range(55), edges)


@pytest.mark.parametrize(
    "make",
    [PageRank, AlternatingConnectedComponents, TriangleCount],
    ids=["pagerank", "alternating_cc", "triangle_count"],
)
def test_small_request_runs_at_most_two_jobs(spark, make):
    if not supports_jvm_internals(spark):
        pytest.skip("job groups need a classic session")
    g = _small_graph(spark)
    sc = spark.sparkContext
    group = f"driver-finish-{make.__name__}"
    sc.setJobGroup(group, group)
    try:
        out = make().run(g)
        if not isinstance(out, int):
            out.toPandas()
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 2, jobs
