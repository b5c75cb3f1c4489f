"""Property-based checks: Spark operators vs pure-Python oracles on random
graphs. Complements the DuckDB gate with adversarial structure (self-loops,
parallel edges, isolated vertices, disconnected blobs).

Graphs are generated once per seed via ``random.Random`` (deterministic);
kept small — correctness of *semantics*, not scale, is under test here.
"""

import random
from collections import defaultdict, deque

import pytest
from pyspark.sql import functions as F

from pyspark_graph_spark import Graph
from pyspark_graph_spark.operators import (
    AlternatingConnectedComponents,
    ConnectedComponents,
    JaccardSimilarity,
    PageRank,
    ShortestPaths,
    TriangleCount,
)

SEEDS = [1, 7, 23, 99]


def random_graph(spark, seed, n=14, p=0.18):
    rng = random.Random(seed)
    edges = [
        (a, b)
        for a in range(n)
        for b in range(n)
        if a != b and rng.random() < p
    ]
    if not edges:
        edges = [(0, 1)]
    v = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    e = spark.createDataFrame(edges, ["src", "dst"])
    return Graph(v, e, indexed=True), n, edges


def py_components(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return {v: min(u for u in range(n) if find(u) == find(v)) for v in range(n)}


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("algo", [ConnectedComponents, AlternatingConnectedComponents])
def test_cc_matches_union_find(spark, seed, algo):
    g, n, edges = random_graph(spark, seed)
    expected = py_components(n, edges)
    got = {r["id"]: r["component"] for r in algo(max_iterations=30).run(g).collect()}
    assert got == expected


@pytest.mark.parametrize("seed", SEEDS)
def test_shortest_paths_matches_python_bfs(spark, seed):
    g, n, edges = random_graph(spark, seed)
    landmark = 0
    # python BFS on reversed edges = distance from each vertex TO landmark
    radj = defaultdict(list)
    for a, b in edges:
        radj[b].append(a)
    dist = {landmark: 0}
    dq = deque([landmark])
    while dq:
        u = dq.popleft()
        for w in radj[u]:
            if w not in dist:
                dist[w] = dist[u] + 1
                dq.append(w)
    got = {
        r["id"]: r["distance"]
        for r in ShortestPaths([landmark], max_iterations=20)
        .run_exploded(g)
        .collect()
    }
    assert got == dist


@pytest.mark.parametrize("seed", SEEDS)
def test_triangle_count_matches_enumeration(spark, seed):
    g, n, edges = random_graph(spark, seed)
    und = {frozenset(e) for e in edges if e[0] != e[1]}
    expected = sum(
        1
        for a in range(n)
        for b in range(a + 1, n)
        for c in range(b + 1, n)
        if {frozenset((a, b)), frozenset((b, c)), frozenset((a, c))} <= und
    )
    assert TriangleCount().run(g) == expected


@pytest.mark.parametrize("seed", SEEDS[:2])
def test_jaccard_strategies_agree(spark, seed):
    """Every plan (auto's driver kernel, index, complement) scores each
    pair sharing an out-neighbour as the Python set formula does."""
    g, n, edges = random_graph(spark, seed, n=20, p=0.25)
    out = defaultdict(set)
    for a, b in edges:
        out[a].add(b)
    expected = sorted(
        (a, b, round(len(out[a] & out[b]) / len(out[a] | out[b]), 9))
        for a in range(n)
        for b in range(a + 1, n)
        if out[a] & out[b]
    )
    for strategy in ("auto", "index", "complement"):
        got = sorted(
            (r["src"], r["dst"], round(r["jaccard"], 9))
            for r in JaccardSimilarity(strategy=strategy).run(g).collect()
        )
        assert got == expected, strategy


@pytest.mark.parametrize("seed", SEEDS[:2])
def test_pagerank_matches_python_power_iteration(spark, seed):
    g, n, edges = random_graph(spark, seed)
    dedup = sorted(set(edges))
    outdeg = defaultdict(int)
    for a, b in dedup:
        outdeg[a] += 1
    pr = {v: 1.0 for v in range(n)}
    for _ in range(4):
        contrib = defaultdict(float)
        for a, b in dedup:
            contrib[b] += pr[a] / outdeg[a]
        pr = {v: 0.15 + 0.85 * contrib[v] for v in range(n)}
    got = {
        r["id"]: r["pagerank"]
        for r in PageRank(alpha=0.85, max_iterations=4).run(g).collect()
    }
    for v in range(n):
        assert got[v] == pytest.approx(pr[v], rel=1e-9)


@pytest.mark.parametrize("seed", SEEDS[:2])
def test_weighted_pagerank_matches_python(spark, seed):
    """Edge-weighted variant vs an independent python power iteration;
    uniform weights must also reproduce the unweighted ranks exactly."""
    import random as _random

    g, n, edges = random_graph(spark, seed)
    dedup = sorted(set(edges))
    rng = _random.Random(seed)
    w = {e: float(rng.randint(1, 5)) for e in dedup}
    from pyspark.sql import functions as F

    we = spark.createDataFrame(
        [(a, b, w[(a, b)]) for a, b in dedup], ["src", "dst", "w"]
    )
    from pyspark_graph_spark.graph import Graph

    gw = Graph(g.vertices, we, directed=True, indexed=True)
    wsum = defaultdict(float)
    for a, b in dedup:
        wsum[a] += w[(a, b)]
    pr = {v: 1.0 for v in range(n)}
    for _ in range(4):
        contrib = defaultdict(float)
        for a, b in dedup:
            contrib[b] += pr[a] * w[(a, b)] / wsum[a]
        pr = {v: 0.15 + 0.85 * contrib[v] for v in range(n)}
    got = {
        r["id"]: r["pagerank"]
        for r in PageRank(alpha=0.85, max_iterations=4, weight_col="w")
        .run(gw)
        .collect()
    }
    for v in range(n):
        assert got[v] == pytest.approx(pr[v], rel=1e-9)

    uniform = we.withColumn("w", F.lit(1.0))
    gu = Graph(g.vertices, uniform, directed=True, indexed=True)
    a = sorted(
        (r["id"], round(r["pagerank"], 12))
        for r in PageRank(max_iterations=3, weight_col="w").run(gu).collect()
    )
    b = sorted(
        (r["id"], round(r["pagerank"], 12))
        for r in PageRank(max_iterations=3).run(gu).collect()
    )
    assert a == b


def py_tarjan(n, edges):
    """Iterative Tarjan; returns {vertex: max vertex id in its SCC}."""
    adj = defaultdict(list)
    for a, b in set(edges):
        if a != b:
            adj[a].append(b)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    sccs = []
    counter = [0]

    for start in range(n):
        if start in index:
            continue
        work = [(start, iter(adj[start]))]
        index[start] = low[start] = counter[0]
        counter[0] += 1
        stack.append(start)
        on_stack.add(start)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter[0]
                    counter[0] += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(adj[w])))
                    advanced = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                sccs.append(comp)
            if work:
                u = work[-1][0]
                low[u] = min(low[u], low[v])
    out = {}
    for comp in sccs:
        m = max(comp)
        for v in comp:
            out[v] = m
    return out


@pytest.mark.parametrize("seed", SEEDS)
def test_scc_matches_tarjan(spark, seed):
    from pyspark_graph_spark.operators import StronglyConnectedComponents

    g, n, edges = random_graph(spark, seed, n=12, p=0.22)
    expected = py_tarjan(n, edges)
    got = {
        r["id"]: r["component"]
        for r in StronglyConnectedComponents().run(g).collect()
    }
    assert got == expected


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("density", [0.15, 0.75])
def test_jaccard_complement_strategy_agrees(spark, seed, density):
    """The complement-graph formula must be exact at ANY density."""
    g, n, edges = random_graph(spark, seed, n=16, p=density)
    index = sorted(
        (r["src"], r["dst"], round(r["jaccard"], 9))
        for r in JaccardSimilarity(strategy="index").run(g).collect()
    )
    comp = sorted(
        (r["src"], r["dst"], round(r["jaccard"], 9))
        for r in JaccardSimilarity(strategy="complement").run(g).collect()
    )
    assert comp == index


def py_core_numbers(n, edges):
    """Peeling core decomposition in python."""
    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    core = {v: 0 for v in range(n)}
    alive = {v for v in range(n) if adj[v]}
    k = 1
    cur = {v: set(adj[v]) for v in adj}
    while alive:
        while True:
            drop = {v for v in alive if len(cur[v] & alive) < k}
            if not drop:
                break
            alive -= drop
        if not alive:
            break
        for v in alive:
            core[v] = k
        k += 1
    return core


@pytest.mark.parametrize("seed", SEEDS[:2])
def test_core_numbers_match_python(spark, seed):
    from pyspark_graph_spark.operators import core_numbers

    g, n, edges = random_graph(spark, seed, n=14, p=0.25)
    expected = py_core_numbers(n, edges)
    got = {r["id"]: r["core"] for r in core_numbers(g).collect()}
    assert got == expected


def test_kcore_triangle_plus_tail(spark):
    from pyspark_graph_spark.operators import KCore

    v = spark.createDataFrame([(i,) for i in range(5)], ["id"])
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)], ["src", "dst"]
    )
    g = Graph(v, e, indexed=True)
    assert {r["id"] for r in KCore(2).run(g).collect()} == {0, 1, 2}
    assert {r["id"] for r in KCore(1).run(g).collect()} == {0, 1, 2, 3, 4}
    assert KCore(3).run(g).count() == 0


def py_brandes(n, edges, sources, symmetric=True):
    """Reference Brandes dependency accumulation (unweighted)."""
    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            if symmetric:
                adj[b].add(a)
    bc = {v: 0.0 for v in range(n)}
    for s in sources:
        # forward BFS with sigma
        dist = {s: 0}
        sigma = {s: 1.0}
        order = [s]
        dq = deque([s])
        while dq:
            u = dq.popleft()
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    sigma[w] = 0.0
                    order.append(w)
                    dq.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] += sigma[u]
        delta = {v: 0.0 for v in order}
        for w in reversed(order):
            for u in adj[w]:
                if u in dist and dist[u] == dist[w] - 1:
                    delta[u] += (sigma[u] / sigma[w]) * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


@pytest.mark.parametrize("seed", SEEDS[:3])
def test_betweenness_matches_brandes(spark, seed):
    from pyspark_graph_spark.operators import BetweennessCentrality

    g, n, edges = random_graph(spark, seed, n=12, p=0.22)
    # undirected semantics for the python oracle too
    gu = Graph(
        g.vertices, g.edges, directed=False, indexed=True
    )
    sources = list(range(n))  # all sources -> exact Brandes
    expected = py_brandes(n, edges, sources, symmetric=True)
    got = {
        r["id"]: r["betweenness"]
        for r in BetweennessCentrality(sources).run(gu).collect()
    }
    for v in range(n):
        assert got[v] == pytest.approx(expected[v], rel=1e-9, abs=1e-9)


@pytest.mark.parametrize("seed", SEEDS)
def test_mis_invariants(spark, seed):
    """The result must be independent (no adjacent members) and maximal
    (every non-member has a member neighbor)."""
    from pyspark_graph_spark.operators import MaximalIndependentSet

    g, n, edges = random_graph(spark, seed, n=18, p=0.2)
    members = {r["id"] for r in MaximalIndependentSet().run(g).collect()}
    und = {frozenset(e) for e in edges if e[0] != e[1]}
    adj = defaultdict(set)
    for e in und:
        a, b = tuple(e)
        adj[a].add(b)
        adj[b].add(a)
    # independent
    assert not any(
        frozenset((a, b)) in und for a in members for b in members if a != b
    )
    # maximal
    for v in range(n):
        if v not in members:
            assert adj[v] & members, f"vertex {v} not dominated"


def test_mis_deterministic(spark):
    from pyspark_graph_spark.operators import MaximalIndependentSet

    g, n, edges = random_graph(spark, 5, n=15, p=0.3)
    a = sorted(r["id"] for r in MaximalIndependentSet().run(g).collect())
    b = sorted(r["id"] for r in MaximalIndependentSet().run(g).collect())
    assert a == b and len(a) > 0


@pytest.mark.parametrize("seed", SEEDS[:2])
def test_random_walks_valid_and_deterministic(spark, seed):
    from pyspark_graph_spark.operators import RandomWalks

    g, n, edges = random_graph(spark, seed, n=12, p=0.3)
    eset = {(a, b) for a, b in edges if a != b}
    rw = RandomWalks(length=6, walks_per_vertex=2)
    a = sorted((r["walk_id"], tuple(r["path"])) for r in rw.run(g).collect())
    b = sorted((r["walk_id"], tuple(r["path"])) for r in rw.run(g).collect())
    assert a == b  # fully deterministic
    assert len(a) == 2 * n
    for _, path in a:
        assert 1 <= len(path) <= 6
        for u, v in zip(path, path[1:]):
            assert (u, v) in eset  # every hop is a real directed edge


def test_random_walks_start_and_dead_ends(spark):
    from pyspark_graph_spark.operators import RandomWalks

    v = spark.createDataFrame([(i,) for i in range(3)], ["id"])
    e = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    g = Graph(v, e, indexed=True)
    out = {r["start"]: list(r["path"]) for r in RandomWalks(length=5).run(g).collect()}
    assert out[0] == [0, 1, 2]  # deterministic chain, ends at sink
    assert out[2] == [2]  # dead end immediately


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("density", [0.2, 0.8])
def test_triangle_count_complement_strategy(spark, seed, density):
    g, n, edges = random_graph(spark, seed, n=15, p=density)
    motif = TriangleCount(strategy="motif").run(g)
    comp = TriangleCount(strategy="complement").run(g)
    assert comp == motif


@pytest.mark.parametrize("seed", SEEDS[:2])
def test_greedy_coloring_proper(spark, seed):
    from pyspark_graph_spark.operators import greedy_coloring

    g, n, edges = random_graph(spark, seed, n=15, p=0.3)
    colors = {r["id"]: r["color"] for r in greedy_coloring(g).collect()}
    assert set(colors) == set(range(n))  # every vertex colored
    for a, b in edges:
        if a != b:
            assert colors[a] != colors[b], f"edge ({a},{b}) monochromatic"


# --------------------------------------------------------------------------
# Round-3 operators vs pure-Python oracles on random graphs
# --------------------------------------------------------------------------


@pytest.mark.parametrize("seed", SEEDS)
def test_transitive_closure_matches_python(spark, seed):
    from pyspark_graph_spark.datalog import TransitiveClosure

    g, n, edges = random_graph(spark, seed)
    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
    want = set()
    for s in range(n):
        seen, q = set(), deque(adj[s])
        while q:
            v = q.popleft()
            if v in seen:
                continue
            seen.add(v)
            q.extend(adj[v])
        want |= {(s, t) for t in seen if t != s}
    got = {
        (r["src"], r["dst"])
        for r in TransitiveClosure(max_iterations=20).apply(g).collect()
    }
    assert got == want


@pytest.mark.parametrize("seed", SEEDS)
def test_critical_path_matches_python_dp(spark, seed):
    from pyspark_graph_spark.operators.dag import CriticalPath

    rng = random.Random(seed)
    n = 12
    # random DAG: edges only a -> b for a < b, weight = a + b + 1
    edges = [
        (a, b, a + b + 1)
        for a in range(n)
        for b in range(a + 1, n)
        if rng.random() < 0.25
    ] or [(0, 1, 2)]
    v = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    e = spark.createDataFrame(edges, ["src", "dst", "weight"])
    g = Graph(v, e, directed=True, indexed=True)
    want = {i: 0 for i in range(n)}
    for a in range(n):  # topological order = numeric order by construction
        for x, y, w in edges:
            if x == a:
                want[y] = max(want[y], want[a] + w)
    got = {
        r["id"]: r["critical_path"]
        for r in CriticalPath(max_iterations=25).run(g).collect()
    }
    assert got == want


@pytest.mark.parametrize("seed", SEEDS)
def test_link_prediction_matches_python(spark, seed):
    from pyspark_graph_spark.operators.link_prediction import LinkPrediction

    # undirected: symmetric_edges leaves directed graphs as-is by contract
    _, n, edges = random_graph(spark, seed)
    g = Graph(
        spark.createDataFrame([(i,) for i in range(n)], ["id"]),
        spark.createDataFrame(edges, ["src", "dst"]),
        directed=False,
        indexed=True,
    )
    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    want = {}
    for u in range(n):
        for v2 in range(u + 1, n):
            common = adj[u] & adj[v2]
            if common and v2 not in adj[u]:
                want[(u, v2)] = (
                    len(common),
                    len(adj[u]) * len(adj[v2]),
                    round(sum(1.0 / len(adj[w]) for w in common), 6),
                )
    got = {
        (r["u"], r["v"]): (
            r["common_neighbors"],
            r["preferential_attachment"],
            r["resource_allocation"],
        )
        for r in LinkPrediction().run(g).collect()
    }
    assert got == want


@pytest.mark.parametrize("seed", SEEDS)
def test_densest_trace_matches_python_peeling(spark, seed):
    from pyspark_graph_spark.operators.densest import DensestSubgraph

    _, n, edges = random_graph(spark, seed, n=16, p=0.3)
    g = Graph(
        spark.createDataFrame([(i,) for i in range(n)], ["id"]),
        spark.createDataFrame(edges, ["src", "dst"]),
        directed=False,
        indexed=True,
    )
    E = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    eps = 0.25
    want = []
    r = 0
    while E and r < 12:
        deg = defaultdict(int)
        for a, b in E:
            deg[a] += 1
            deg[b] += 1
        V, ne = len(deg), len(E)
        want.append((r, V, ne, round(ne / V, 6)))
        thr = 2 * (1 + eps) * ne / V
        keep = {v for v, d in deg.items() if d >= thr}
        E = {(a, b) for a, b in E if a in keep and b in keep}
        r += 1
    got = sorted(
        (r["round"], r["n_vertices"], r["n_edges"], r["density"])
        for r in DensestSubgraph(epsilon=eps, max_iterations=12)
        .run(g)
        .collect()
    )
    assert got == sorted(want)
