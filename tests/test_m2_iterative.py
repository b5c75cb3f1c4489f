import pytest
from pyspark.sql import functions as F

from pyspark_graph_spark import Graph
from pyspark_graph_spark.constants import ID, MSG, STATE
from pyspark_graph_spark.operators import (
    AggregateMessages,
    AlternatingConnectedComponents,
    BreadthFirstSearch,
    ConnectedComponents,
    LabelPropagation,
    Pregel,
    WLKernel,
)
from tests.fixtures import labelled, sample2, two_components


def components_as_sets(df):
    rows = df.collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], set()).add(r["id"])
    return sorted(by_comp.values(), key=lambda s: min(s))


# ---------------------------------------------------------------- Pregel


def test_pregel_min_propagation(spark):
    g = labelled(spark)
    p = Pregel(
        initial_state=F.col(ID),
        agg_expr=F.min(MSG),
        msg_to_dst=F.col(STATE),
        msg_to_src=F.col(STATE),
        update_expr=F.least(F.col(STATE), F.col(MSG)),
    )
    out = {r[ID]: r[STATE] for r in p.run(g).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}


def test_pregel_requires_message_expr(spark):
    with pytest.raises(ValueError):
        Pregel(initial_state=F.col(ID), agg_expr=F.min(MSG))


def test_pregel_hub_on_both_join_plans(spark):
    """A hub (vertex 0 sends to all) takes the same labels and rounds
    whether the changed senders are broadcast to the edges (default
    threshold) or shuffled to meet them (threshold -1)."""
    v = spark.createDataFrame([(i,) for i in range(12)], "id long")
    hub = [(0, i) for i in range(1, 12)] + [(5, 6), (7, 8)]
    e = spark.createDataFrame(hub, "src long, dst long")
    g = Graph(v, e, directed=False, indexed=True)

    def run():
        p = Pregel(
            initial_state=F.col(ID),
            agg_expr=F.min(MSG),
            msg_to_dst=F.col(STATE),
            msg_to_src=F.col(STATE),
            update_expr=F.least(F.col(STATE), F.col(MSG)),
        )
        out = {r[ID]: r[STATE] for r in p.run(g).collect()}
        return out, p.rounds_run, p.converged

    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    try:
        broadcast = run()
        spark.conf.set(key, "-1")
        shuffled = run()
    finally:
        spark.conf.set(key, before)
    expected = ({i: 0 for i in range(12)}, 2, True)
    assert broadcast == expected
    assert shuffled == expected


def test_pregel_max_iterations_caps_rounds(spark):
    # chain 0-1-2-3-4-5: min label needs 5 rounds; cap at 1 leaves partial
    v = spark.createDataFrame([(i,) for i in range(6)], ["id"])
    e = spark.createDataFrame([(i, i + 1) for i in range(5)], ["src", "dst"])
    g = Graph(v, e, indexed=True)
    p = Pregel(
        initial_state=F.col(ID),
        agg_expr=F.min(MSG),
        msg_to_dst=F.col(STATE),
        msg_to_src=F.col(STATE),
        update_expr=F.least(F.col(STATE), F.col(MSG)),
        max_iterations=1,
    )
    out = {r[ID]: r[STATE] for r in p.run(g).collect()}
    assert out[5] == 4  # one round: adopted left neighbor only
    assert out[1] == 0


# ------------------------------------------------- connected components


@pytest.mark.parametrize("algo", [ConnectedComponents, AlternatingConnectedComponents])
def test_cc_two_components(spark, algo):
    g = two_components(spark)
    comps = components_as_sets(algo().run(g))
    assert len(comps) == 2
    assert sorted(len(c) for c in comps) == [3, 3]


@pytest.mark.parametrize("algo", [ConnectedComponents, AlternatingConnectedComponents])
def test_cc_single_component(spark, algo):
    g = sample2(spark)
    comps = components_as_sets(algo().run(g))
    assert len(comps) == 1 and len(comps[0]) == 6


@pytest.mark.parametrize("algo", [ConnectedComponents, AlternatingConnectedComponents])
def test_cc_isolated_vertices_and_component_is_min_id(spark, algo):
    v = spark.createDataFrame([(i,) for i in range(7)], ["id"])
    e = spark.createDataFrame([(5, 3), (3, 6)], ["src", "dst"])
    g = Graph(v, e, indexed=True)
    out = {r["id"]: r["component"] for r in algo().run(g).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 4: 4, 3: 3, 5: 3, 6: 3}


def test_alternating_cc_long_chain(spark):
    # diameter 63 — alternating converges in O(log n) rounds, well under 20
    n = 64
    v = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    e = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    g = Graph(v, e, indexed=True)
    out = {r["id"]: r["component"] for r in AlternatingConnectedComponents().run(g).collect()}
    assert set(out.values()) == {0} and len(out) == n


# ------------------------------------------------------- label propagation


def test_label_propagation_triangle_converges(spark):
    g = labelled(spark)
    out = {r["id"]: r["label"] for r in LabelPropagation().run(g).collect()}
    # deterministic min tie-break: triangle {0,1,2} all adopt 0
    assert out[0] == out[1] == out[2] == 0
    # star 3-(4,5): leaves adopt 3's label... and 3 adopts min leaf label
    assert out[4] == out[5]


def test_label_propagation_deterministic_across_runs(spark):
    g = labelled(spark)
    a = sorted(tuple(r) for r in LabelPropagation().run(g).collect())
    b = sorted(tuple(r) for r in LabelPropagation().run(g).collect())
    assert a == b


def test_label_propagation_seed_column(spark):
    v = spark.createDataFrame(
        [(0, 10), (1, 10), (2, 20), (3, 20)], ["id", "seed"]
    )
    e = spark.createDataFrame([(0, 1), (2, 3)], ["src", "dst"])
    g = Graph(v, e, indexed=True)
    out = {r["id"]: r["label"] for r in LabelPropagation("seed").run(g).collect()}
    assert out == {0: 10, 1: 10, 2: 20, 3: 20}


# ------------------------------------------------------------- WL kernel


def test_wl_kernel_isomorphic_graphs_same_hash(spark):
    v1 = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    e1 = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"])
    # same path graph with relabeled ids
    v2 = spark.createDataFrame([(i,) for i in (10, 11, 12, 13)], ["id"])
    e2 = spark.createDataFrame([(13, 12), (12, 11), (11, 10)], ["src", "dst"])
    h1 = WLKernel().run(Graph(v1, e1, indexed=True))
    h2 = WLKernel().run(Graph(v2, e2, indexed=True))
    assert h1 == h2


def test_wl_kernel_distinguishes_structures(spark):
    v = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"])
    star = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], ["src", "dst"])
    h1 = WLKernel().run(Graph(v, path, indexed=True))
    h2 = WLKernel().run(Graph(v, star, indexed=True))
    assert h1 != h2


def test_wl_kernel_stable_across_runs(spark):
    g = labelled(spark)
    assert WLKernel().run(g) == WLKernel().run(g)


# ----------------------------------------------------- aggregate messages


def test_aggregate_messages_neighbor_sum(spark):
    g = labelled(spark)
    am = AggregateMessages(
        agg=F.sum(MSG),
        to_dst=F.col("src_id"),
        to_src=F.col("dst_id"),
    )
    out = {r["id"]: r["msg"] for r in am.run(g).collect()}
    # vertex 0: receives from in-edge (2,0) -> 2, out-edge (0,1) -> 1 => 3
    assert out[0] == 3
    assert out[3] == 4 + 5
    assert out[4] == 3


def test_aggregate_messages_requires_expr(spark):
    with pytest.raises(ValueError):
        AggregateMessages(agg=F.sum(MSG))


def test_aggregate_messages_triplet_context(spark):
    g = labelled(spark)
    am = AggregateMessages(
        agg=F.collect_list(MSG),
        to_dst=F.col("src_label"),
    )
    out = {r["id"]: sorted(r["msg"]) for r in am.run(g).collect()}
    assert out[1] == ["a"]
    assert out[4] == ["d"]


# ------------------------------------------------------------------- BFS


def test_bfs_direct_edge(spark):
    g = labelled(spark)
    bfs = BreadthFirstSearch(F.col("label") == "d", F.col("label") == "e")
    rows = bfs.run(g).collect()
    assert len(rows) == 1
    assert rows[0]["start"] == 3 and rows[0]["end"] == 4
    assert rows[0]["vertices"] == [3, 4]
    assert len(rows[0]["edges"]) == 1


def test_bfs_two_hops_undirected(spark):
    g = labelled(spark, directed=False)
    bfs = BreadthFirstSearch(F.col("label") == "e", F.col("label") == "f")
    rows = bfs.run(g).collect()
    # 4 -> 3 -> 5
    assert len(rows) == 1
    assert rows[0]["vertices"] == [4, 3, 5]


def test_bfs_trivial_start_is_end(spark):
    g = labelled(spark)
    bfs = BreadthFirstSearch(F.col("label") == "a", F.col("id") < 2)
    rows = bfs.run(g).collect()
    assert len(rows) == 1
    assert rows[0]["start"] == 0 and rows[0]["end"] == 0
    assert rows[0]["edges"] == [] and rows[0]["vertices"] == [0]


def test_bfs_unreachable_returns_empty(spark):
    g = labelled(spark)  # directed: no path from component {0,1,2} to {3,4,5}
    bfs = BreadthFirstSearch(F.col("label") == "a", F.col("label") == "f")
    assert bfs.run(g).count() == 0


def test_bfs_no_start_matches(spark):
    g = labelled(spark)
    bfs = BreadthFirstSearch(F.col("label") == "zzz", F.col("label") == "a")
    out = bfs.run(g)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["start", "end", "edges", "vertices"]


def test_bfs_edge_filter(spark):
    v = spark.createDataFrame([(i,) for i in range(3)], ["id"])
    e = spark.createDataFrame(
        [(0, 1, "no"), (0, 2, "yes"), (2, 1, "yes")], ["src", "dst", "tag"]
    )
    g = Graph(v, e, indexed=True)
    bfs = BreadthFirstSearch(
        F.col(ID) == 0, F.col(ID) == 1, edge_expr=F.col("tag") == "yes"
    )
    rows = bfs.run(g).collect()
    assert len(rows) == 1
    assert rows[0]["vertices"] == [0, 2, 1]  # forced around the filtered edge


def test_acc_batch_front_path_equals_distributed_fixpoint(spark):
    """Round 9: AlternatingCC's bounded-batch union-find front-path must
    label identically to the distributed large-star/small-star fixpoint
    (both converge to min-id component representatives) — including
    isolated vertices and single-edge components."""
    import random
    from pyspark_graph_spark.constants import DST, ID, SRC
    from pyspark_graph_spark.graph import Graph
    from pyspark_graph_spark.operators.connected_components import (
        AlternatingConnectedComponents,
    )

    rng = random.Random(23)
    n = 60
    edges = {
        tuple(sorted(rng.sample(range(n), 2))) for _ in range(45)
    }
    v = spark.createDataFrame([(i,) for i in range(n)], f"{ID} long")
    e = spark.createDataFrame(sorted(edges), f"{SRC} long, {DST} long")
    g = Graph(v, e, directed=False, indexed=True)
    batch = {
        (r[ID], r["component"])
        for r in AlternatingConnectedComponents().run(g).collect()
    }
    dist = {
        (r[ID], r["component"])
        for r in AlternatingConnectedComponents(batch_finish=0)
        .run(g)
        .collect()
    }
    assert batch == dist
    assert len(batch) == n  # every vertex labeled exactly once


def test_scc_batch_tarjan_equals_distributed_fwbw(spark):
    """Round 9: the Arrow-batch Tarjan front-path must label identically
    to the distributed FW-BW coloring — both name every SCC by its max
    member id. Random digraph with cycles, chains, and isolated
    vertices."""
    import random
    from pyspark_graph_spark.constants import DST, ID, SRC
    from pyspark_graph_spark.graph import Graph
    from pyspark_graph_spark.operators.scc import (
        StronglyConnectedComponents,
    )

    rng = random.Random(31)
    n = 40
    edges = {
        (rng.randrange(n), rng.randrange(n)) for _ in range(90)
    }
    edges |= {(0, 1), (1, 2), (2, 0), (5, 6), (6, 5)}  # planted cycles
    edges = {(a, b) for a, b in edges if a != b}
    v = spark.createDataFrame([(i,) for i in range(n + 3)], f"{ID} long")
    e = spark.createDataFrame(sorted(edges), f"{SRC} long, {DST} long")
    g = Graph(v, e, directed=True, indexed=True)
    batch = {
        (r[ID], r["component"])
        for r in StronglyConnectedComponents().run(g).collect()
    }
    dist = {
        (r[ID], r["component"])
        for r in StronglyConnectedComponents(batch_finish=0)
        .run(g)
        .collect()
    }
    assert batch == dist
    assert len(batch) == n + 3
