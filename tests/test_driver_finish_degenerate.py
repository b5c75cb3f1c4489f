"""Driver finishes of the pandas-kernel operators on degenerate inputs.

Each operator below finishes a small input in the driver through
``util.driver_finish``. On an empty vertex table (with edges) and on an
empty edge table (with vertices) the driver path must equal the
distributed plan, ``batch_finish=0`` (``batch_cc=0`` for MST): the kernel
either handles the input or returns None so that the plan runs. For the
functions without a vertex table the seeds, or the COO table, take its
place.
"""

from __future__ import annotations

import pytest

from pyspark_graph_spark.constants import DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.operators.als import als_bias_rank2, als_implicit_rank2
from pyspark_graph_spark.operators.betweenness import BetweennessCentrality
from pyspark_graph_spark.operators.dag import TopologicalLayers
from pyspark_graph_spark.operators.louvain import Louvain
from pyspark_graph_spark.operators.matching import MaximalMatching
from pyspark_graph_spark.operators.mis import (
    MaximalIndependentSet,
    greedy_coloring,
)
from pyspark_graph_spark.operators.mst import BoruvkaMST
from pyspark_graph_spark.operators.partition import MultilevelPartition, refine
from pyspark_graph_spark.operators.scc import (
    StronglyConnectedComponents,
    reachable_set,
)
from pyspark_graph_spark.operators.shortest_paths import ShortestPaths
from pyspark_graph_spark.operators.spectral import HITS
from pyspark_graph_spark.operators.svd import (
    block_power_iteration_svd,
    deflated_power_iteration_svd,
    power_iteration_svd,
)
from pyspark_graph_spark.operators.temporal import earliest_arrival
from pyspark_graph_spark.operators.walks import RandomWalks

EDGES = [(0, 1, 2.0), (1, 2, 0.5), (2, 0, 1.0), (3, 4, 3.0)]
VERTICES = list(range(12))


def _graph(spark, vertices, edges, directed=True):
    v = spark.createDataFrame([(i,) for i in vertices], f"{ID} long")
    e = spark.createDataFrame(
        edges, f"{SRC} long, {DST} long, weight double, ts long"
    )
    return Graph(v, e, directed=directed, indexed=True)


def _parts(g, k=2):
    from pyspark.sql import functions as F

    return g.vertices.select(ID, (F.col(ID) % k).cast("int").alias("part"))


def _seeds(g):
    from pyspark.sql import functions as F

    return g.vertices.select(ID, F.lit(0).cast("long").alias("t0"))


# (name, run(g, bound) -> DataFrame)
OPERATORS = [
    ("topological_layers",
     lambda g, b: TopologicalLayers(batch_finish=b).run(g)),
    ("louvain", lambda g, b: Louvain(batch_finish=b).run(g)),
    ("betweenness",
     lambda g, b: BetweennessCentrality([0, 3], batch_finish=b).run(g)),
    ("random_walks_md5",
     lambda g, b: RandomWalks(length=4, hash_mode="md5", batch_finish=b)
     .run(g)),
    ("hits", lambda g, b: HITS(batch_finish=b).run(g)),
    ("scc", lambda g, b: StronglyConnectedComponents(batch_finish=b).run(g)),
    ("reachable_set",
     lambda g, b: reachable_set(g.edges, g.vertices, batch_finish=b)),
    ("shortest_paths",
     lambda g, b: ShortestPaths([0, 3], batch_finish=b).run(g)),
    ("mst", lambda g, b: BoruvkaMST(batch_cc=b).run(g)),
    ("matching", lambda g, b: MaximalMatching(batch_finish=b).run(g)),
    ("mis", lambda g, b: MaximalIndependentSet(batch_finish=b).run(g)),
    ("greedy_coloring", lambda g, b: greedy_coloring(g, batch_finish=b)),
    ("multilevel_partition",
     lambda g, b: MultilevelPartition(k=2, max_coarse=4, batch_finish=b)
     .run(g)),
    ("refine",
     lambda g, b: refine(g, _parts(g), k=2, cap=8, batch_finish=b)),
    ("earliest_arrival",
     lambda g, b: earliest_arrival(g.edges, _seeds(g), batch_finish=b)),
]


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize(
    "run", [r for _, r in OPERATORS], ids=[n for n, _ in OPERATORS]
)
@pytest.mark.parametrize(
    "vertices, edges",
    [([], [e + (i,) for i, e in enumerate(EDGES)]), (VERTICES, [])],
    ids=["empty_vertices", "empty_edges"],
)
def test_driver_finish_matches_distributed(spark, run, vertices, edges):
    g = _graph(spark, vertices, edges)
    assert _rows(run(g, 1_000_000)) == _rows(run(g, 0))


def _coo(spark, rows):
    return spark.createDataFrame(rows, "u long, i long, r double")


COO = [
    ("power_svd", lambda a, b: power_iteration_svd(
        a, "u", "i", "r", batch_finish=b)),
    ("deflated_svd", lambda a, b: deflated_power_iteration_svd(
        a, "u", "i", "r", k=1, batch_finish=b)),
    ("block_svd", lambda a, b: block_power_iteration_svd(
        a, "u", "i", "r", k=1, batch_finish=b)),
    ("als_bias", lambda a, b: als_bias_rank2(a, "u", "i", "r", batch_finish=b)),
    ("als_implicit",
     lambda a, b: als_implicit_rank2(a, "u", "i", "r", batch_finish=b)),
]


def _outcome(run, a, bound):
    """The rows of each returned frame, or the text of the ValueError
    (the rank-k SVDs refuse a matrix with no rank at all)."""
    try:
        return [_rows(df) for df in run(a, bound)]
    except ValueError as e:
        return str(e)


@pytest.mark.parametrize(
    "run", [r for _, r in COO], ids=[n for n, _ in COO]
)
def test_empty_coo_table_matches_distributed(spark, run):
    a = _coo(spark, [])
    assert _outcome(run, a, 1_000_000) == _outcome(run, a, 0)
