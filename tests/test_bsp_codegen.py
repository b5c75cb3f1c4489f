"""Every round of a BSP loop runs one plan, so Spark compiles its code once.

PageRank, personalized PageRank and the Pregel loops (label propagation,
min-label connected components) type their round 0 as any later round
(``util.round_zero``). A 1-round call therefore compiles every class a
longer call on the same graph needs: Spark's code generator compiles no
new class for rounds 2 and 3. The count is Spark's own ``CodegenMetrics``
compile counter, read through py4j.
"""

from __future__ import annotations

import pytest

from pyspark_graph_spark.constants import DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.operators.connected_components import (
    ConnectedComponents,
)
from pyspark_graph_spark.operators.label_propagation import LabelPropagation
from pyspark_graph_spark.operators.pagerank import (
    PageRank,
    parallel_personalized_pagerank,
)
from pyspark_graph_spark.session import supports_jvm_internals

CALLS = {
    "pagerank": lambda g, k: PageRank(
        max_iterations=k, batch_finish=0
    ).run(g),
    "label_propagation": lambda g, k: LabelPropagation(
        max_iterations=k
    ).run(g),
    "connected_components": lambda g, k: ConnectedComponents(
        max_iterations=k, batch_finish=0, require_convergence=False
    ).run(g),
    # sources at the two ends of the path: no two walks share a vertex
    # within 3 iterations. Spark's broadcast hash join generates other
    # code for a build side whose keys repeat, whatever the plan
    "personalized_pagerank": lambda g, k: parallel_personalized_pagerank(
        g, [0, 29], max_iterations=k, batch_finish=0
    ),
}


def _compiled(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM: one per
    miss of its codegen cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.mark.parametrize("name", sorted(CALLS))
def test_rounds_after_the_first_compile_no_class(spark, name):
    if not supports_jvm_internals(spark):
        pytest.skip("the compile counter is read through py4j")
    # a 30-vertex path with two chords: no loop settles within 3 rounds
    v = spark.range(30).select(ID)
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(29)] + [(3, 7), (5, 11)],
        f"{SRC} long, {DST} long",
    )
    g = Graph(v, e, directed=False, indexed=True)
    CALLS[name](g, 1).collect()
    before = _compiled(spark)
    CALLS[name](g, 3).collect()
    assert _compiled(spark) == before
