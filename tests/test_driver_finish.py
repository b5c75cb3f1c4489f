"""Driver finishes of PageRank, connected components, triangle count and
neighbourhood similarity.

Below ``batch_finish`` these operators fetch their input with one limited
Arrow collect (``util.fetch_bounded``, ``util.fetch_bounded_all``) and
finish in numpy in the driver. Each must equal its distributed plan
(``batch_finish=0``, or ``strategy="index"`` for similarity) on degenerate
inputs too, and a small request must cost at most two Spark jobs — as must
the pandas-kernel finishes (``util.driver_finish``) of the operators that
need no checkpoint before their fetch. The pandas kernels of CriticalPath
and EigenvectorCentrality are held to the same empty-vertex-table
equality here; tests/test_driver_finish_degenerate.py covers the rest.
"""

from __future__ import annotations

import pathlib
import re

import pytest

from pyspark_graph_spark.constants import DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.operators import similarity
from pyspark_graph_spark.operators.connected_components import (
    AlternatingConnectedComponents,
    ConnectedComponents,
)
from pyspark_graph_spark.operators.dag import CriticalPath, TopologicalLayers
from pyspark_graph_spark.operators.louvain import Louvain
from pyspark_graph_spark.operators.pagerank import PageRank
from pyspark_graph_spark.operators.scc import (
    StronglyConnectedComponents,
    reachable_set,
)
from pyspark_graph_spark.operators.shortest_paths import ShortestPaths
from pyspark_graph_spark.operators.similarity import (
    JaccardSimilarity,
    NeighborhoodContainment,
    OverlapCoefficient,
)
from pyspark_graph_spark.operators.spectral import HITS, EigenvectorCentrality
from pyspark_graph_spark.operators.triangle_count import TriangleCount
from pyspark_graph_spark.operators.walks import RandomWalks
from pyspark_graph_spark.session import supports_jvm_internals
from pyspark_graph_spark.util import (
    fetch_bounded,
    fetch_bounded_all,
    fetch_tagged,
)

SIMILARITIES = (JaccardSimilarity, OverlapCoefficient, NeighborhoodContainment)


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


def test_fetch_tagged_counts_each_frames_rows_above_the_bound(spark):
    a, b = spark.range(5), spark.range(3)
    assert fetch_tagged(2, a) == (None, [3])
    tables, seen = fetch_tagged(2, a, b)
    assert tables is None and sum(seen) == 3
    tables, seen = fetch_tagged(8, a, b)
    assert seen == [5, 3] and [t.num_rows for t in tables] == [5, 3]


def test_fetch_bounded_all_splits_one_collect_per_frame(spark):
    a = spark.range(3)
    b = spark.createDataFrame([(7, "x"), (8, "y")], "k long, s string")
    ta, tb = fetch_bounded_all(5, a, b)
    assert ta.column_names == ["id"] and tb.column_names == ["k", "s"]
    assert ta.column("id").to_pylist() == [0, 1, 2]
    assert sorted(tb.column("s").to_pylist()) == ["x", "y"]
    assert fetch_bounded_all(4, a, b) is None


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


def test_critical_path_empty_vertices_matches_distributed(spark):
    v = spark.createDataFrame([], f"{ID} long")
    e = spark.createDataFrame(
        [(0, 1, 2.0), (1, 2, 0.5)], f"{SRC} long, {DST} long, weight double"
    )
    g = Graph(v, e, directed=True, indexed=True)
    a = CriticalPath().run(g)
    b = CriticalPath(batch_finish=0).run(g)
    assert _rows(a, "critical_path") == _rows(b, "critical_path") == []


def test_eigenvector_empty_vertices_matches_distributed(spark):
    g = _graph(spark, [], [(0, 1), (1, 2)])
    a = EigenvectorCentrality().run(g)
    b = EigenvectorCentrality(batch_finish=0).run(g)
    assert _rows(a, "eigenvector") == _rows(b, "eigenvector") == []


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


# ---- neighbourhood similarity: driver kernel == index plan -----------------


def _scores(df):
    return sorted(tuple(r) for r in df.collect())


_STAR = [(0, i) for i in range(1, 7)] + [(1, 2), (2, 3), (5, 6)]


@pytest.mark.parametrize("directed", [False, True], ids=["undirected", "directed"])
@pytest.mark.parametrize(
    "vertices, edges, kw",
    [
        (range(8), [(0, 1), (1, 2), (2, 0), (2, 3), (4, 1)], {}),
        (range(4), [(0, 0), (0, 1), (1, 2), (2, 0), (3, 3), (2, 2), (3, 1)], {}),
        (range(5), [(0, 1), (1, 0), (0, 1), (1, 2), (2, 1), (0, 2), (2, 0),
                    (2, 3), (3, 0), (3, 0), (1, 3), (4, 3)], {}),
        (range(3), [], {}),
        ([], [(0, 1), (1, 2), (2, 0), (0, 3), (3, 2)], {}),
        (range(8), _STAR, {"max_degree": 3}),
        (range(8), _STAR, {"min_similarity": 0.5}),
    ],
    ids=["isolated", "self_loops", "duplicates", "no_edges", "no_vertices",
         "hub", "min_similarity"],
)
def test_similarity_driver_path_matches_index(spark, vertices, edges, kw, directed):
    g = _graph(spark, vertices, edges, directed=directed)
    assert similarity._driver_pair_counts(g, kw.get("max_degree")) is not None
    for op in SIMILARITIES:
        got = _scores(op(**kw).run(g))
        assert got == _scores(op(strategy="index", **kw).run(g)), op.__name__


def _assert_similarity_defers(g):
    # with a degree cap, the deferred ``auto`` plan is the index plan (the
    # uncapped small-V one, allpairs, ignores null neighbours)
    assert similarity._driver_pair_counts(g, 10) is None
    for op in SIMILARITIES:
        got = _scores(op(max_degree=10).run(g))
        assert got == _scores(op(strategy="index", max_degree=10).run(g))


def test_similarity_defers_string_ids(spark):
    v = spark.createDataFrame([("a",), ("b",), ("c",)], f"{ID} string")
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], f"{SRC} string, {DST} string"
    )
    _assert_similarity_defers(Graph(v, e, directed=False, indexed=True))


def test_similarity_defers_a_null_endpoint(spark):
    # the null neighbour counts toward vertex 0's degree in the Spark plan
    _assert_similarity_defers(
        _graph(spark, range(3), [(0, 1), (1, 2), (2, 0), (0, None)])
    )


def test_similarity_defers_wedges_over_the_bound(spark, monkeypatch):
    # a 4-leaf star: 4 edge rows, C(4, 2) = 6 wedges at the centre
    g = _graph(spark, range(5), [(0, i) for i in range(1, 5)])
    monkeypatch.setattr(similarity, "BATCH_ROWS", 6)
    assert similarity._driver_pair_counts(g, 10) is not None
    monkeypatch.setattr(similarity, "BATCH_ROWS", 5)
    _assert_similarity_defers(g)


# ---- job count -------------------------------------------------------------


def _small_graph(spark):
    edges = [(i, (i * 7 + 3) % 50) for i in range(50)] + [
        (i, i + 1) for i in range(0, 48, 2)
    ]
    return _graph(spark, range(55), edges)


class _ReachableSet:
    def run(self, g):
        seeds = g.vertices.sparkSession.createDataFrame([(0,)], f"{ID} long")
        return reachable_set(g.edges, seeds)


@pytest.mark.parametrize(
    "make",
    [PageRank, AlternatingConnectedComponents, TriangleCount,
     ConnectedComponents, JaccardSimilarity, TopologicalLayers,
     lambda: Louvain(levels=1), lambda: RandomWalks(hash_mode="md5"), HITS,
     StronglyConnectedComponents, _ReachableSet,
     lambda: ShortestPaths([0, 1])],
    ids=["pagerank", "alternating_cc", "triangle_count",
         "connected_components", "jaccard", "topological_layers",
         "louvain", "random_walks_md5", "hits", "scc", "reachable_set",
         "shortest_paths"],
)
def test_small_request_runs_at_most_two_jobs(spark, make, request):
    if not supports_jvm_internals(spark):
        pytest.skip("job groups need a classic session")
    g = _small_graph(spark)
    sc = spark.sparkContext
    group = f"driver-finish-{request.node.callspec.id}"
    sc.setJobGroup(group, group)
    try:
        out = make().run(g)
        if not isinstance(out, int):
            out.toPandas()
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 2, jobs


# ---- one gate mechanism ------------------------------------------------------

# a single-group pandas UDF keyed on a literal, or a fallback recognised by
# the text of an exception
_OLD_GATE = re.compile(
    r'applyInPandas|\.cogroup\(|"__g"|in str\(e\)|in msg\b|_DEGENERATE__'
)


def test_operators_have_no_single_group_gate_or_exception_text_fallback():
    ops = pathlib.Path(__file__).resolve().parents[1] / (
        "pyspark_graph_spark/operators"
    )
    hits = [
        f"{p.name}:{n}: {line.strip()}"
        for p in sorted(ops.glob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if _OLD_GATE.search(line)
    ]
    assert not hits, hits
