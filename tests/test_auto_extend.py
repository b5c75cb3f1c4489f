"""Round budgets of the iterative operators, on the chains that once
pinned the ``auto_extend`` option. That option doubled the budget of one
continuous loop up to a hard cap (8x by default), so it ran the same
rounds, gave the same result and set the same ``converged`` /
``rounds_run`` as ``max_iterations`` (or ``max_rounds``) set to that
cap. It is gone; these cases pin the plain budget: the run completes
within it, and stays loud when it is too small."""

import pytest
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.operators.connected_components import (
    AlternatingConnectedComponents,
    ConnectedComponents,
)


def _chain(spark, n):
    """Path graph 0-1-...-n-1 (diameter n-1)."""
    v = spark.range(n).select(F.col("id").alias(ID))
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], f"{SRC} long, {DST} long"
    )
    return Graph(v, e, directed=False, indexed=True)


def test_pregel_cc_auto_extend_resumes_not_restarts(spark):
    """Diameter-25 chain: max_iterations=20 trips the convergence guard;
    the former 8x cap (160) completes in ~26 rounds of work — the loop
    stops at the fixpoint, whatever the budget above it."""
    g = _chain(spark, 26)  # diameter 25

    cc = ConnectedComponents(max_iterations=20)
    with pytest.raises(RuntimeError, match="max_iterations"):
        cc.run(g)

    cc = ConnectedComponents(max_iterations=160)
    out = cc.run(g)
    rows = out.collect()
    assert all(r["component"] == 0 for r in rows) and len(rows) == 26
    # min-label needs 25 propagation rounds + 1 empty-frontier round
    assert 25 <= cc.rounds_run <= 27


def test_pregel_auto_extend_hard_cap_still_loud(spark):
    g = _chain(spark, 26)
    cc = ConnectedComponents(max_iterations=8)
    with pytest.raises(RuntimeError, match="max_iterations"):
        cc.run(g)


def test_alternating_cc_auto_extend(spark):
    """Star-contraction under a deliberately tiny round budget: the
    fixpoint needs more than 1 round on a long chain, and a budget of 8
    converges (batch path disabled so the distributed fixpoint actually
    runs)."""
    g = _chain(spark, 40)
    with pytest.raises(RuntimeError, match="max_iterations"):
        AlternatingConnectedComponents(
            max_iterations=1, batch_finish=0
        ).run(g)
    acc = AlternatingConnectedComponents(max_iterations=8, batch_finish=0)
    out = acc.run(g)
    rows = out.collect()
    assert all(r["component"] == 0 for r in rows) and len(rows) == 40
    assert acc.rounds_run > 1


def test_temporal_auto_extend(spark):
    """earliest_arrival on a 30-hop time-respecting path: refuses under
    max_rounds=20, completes under the former 8x cap (batch front-path
    disabled to exercise the distributed rounds)."""
    from pyspark_graph_spark.operators.temporal import earliest_arrival

    n = 31
    edges = spark.createDataFrame(
        [(i, i + 1, i + 1) for i in range(n - 1)],
        "src long, dst long, ts long",
    )
    seeds = spark.createDataFrame([(0, 0)], "id long, t0 long")
    with pytest.raises(ValueError, match="max_rounds"):
        earliest_arrival(
            edges, seeds, max_rounds=20, batch_finish=0
        ).collect()
    out = earliest_arrival(edges, seeds, max_rounds=160, batch_finish=0)
    got = {r["id"]: r["arrival"] for r in out.collect()}
    assert got == {i: i for i in range(n)}
