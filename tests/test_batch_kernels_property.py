"""Property tests for the bounded-batch kernels (round 9) — the pure
numpy/pandas functions behind the CC/SCC/MST/temporal driver finishes,
validated against independent pure-Python references on randomized
graphs. These run WITHOUT Spark (the kernels take arrays or pandas
frames directly), so the property loop is cheap enough for many
examples.
"""

from __future__ import annotations

import heapq
import random

import numpy as np
import pandas as pd
import pytest

from pyspark_graph_spark.operators.connected_components import (
    _batch_union_find,
)
from pyspark_graph_spark.operators.mst import _batch_kruskal
from pyspark_graph_spark.operators.scc import _batch_tarjan
from pyspark_graph_spark.operators.temporal import _batch_temporal_dijkstra


def _rand_edges(rng, n, m):
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


@pytest.mark.parametrize("trial", range(25))
def test_union_find_matches_bfs_components(trial):
    rng = random.Random(1000 + trial)
    n, m = rng.randrange(2, 40), rng.randrange(1, 80)
    edges = _rand_edges(rng, n, m)
    ids, comp = _batch_union_find(
        np.array([s for s, _ in edges], dtype=np.int64),
        np.array([d for _, d in edges], dtype=np.int64),
    )
    got = dict(zip(ids.tolist(), comp.tolist()))
    # reference: BFS components labeled by min member
    adj = {}
    verts = set()
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
        verts |= {s, d}
    want = {}
    seen = set()
    for v in verts:
        if v in seen:
            continue
        comp, work = [], [v]
        seen.add(v)
        while work:
            u = work.pop()
            comp.append(u)
            for w in adj.get(u, ()):
                if w not in seen:
                    seen.add(w)
                    work.append(w)
        lo = min(comp)
        for u in comp:
            want[u] = lo
    assert got == want


@pytest.mark.parametrize("trial", range(25))
def test_tarjan_matches_kosaraju(trial):
    rng = random.Random(2000 + trial)
    n, m = rng.randrange(2, 35), rng.randrange(1, 90)
    edges = list({(a, b) for a, b in _rand_edges(rng, n, m) if a != b})
    out = _batch_tarjan(pd.DataFrame(edges, columns=["src", "dst"]))
    got = dict(zip(out["id"], out["component"]))
    # reference: Kosaraju two-pass, SCCs labeled by max member
    fwd, rev = {}, {}
    verts = set()
    for s, d in edges:
        fwd.setdefault(s, []).append(d)
        rev.setdefault(d, []).append(s)
        verts |= {s, d}
    order, seen = [], set()
    for v in sorted(verts):
        if v in seen:
            continue
        stack = [(v, iter(fwd.get(v, ())))]
        seen.add(v)
        while stack:
            u, it = stack[-1]
            adv = False
            for w in it:
                if w not in seen:
                    seen.add(w)
                    stack.append((w, iter(fwd.get(w, ()))))
                    adv = True
                    break
            if not adv:
                order.append(u)
                stack.pop()
    want, seen2 = {}, set()
    for v in reversed(order):
        if v in seen2:
            continue
        comp, work = [], [v]
        seen2.add(v)
        while work:
            u = work.pop()
            comp.append(u)
            for w in rev.get(u, ()):
                if w not in seen2:
                    seen2.add(w)
                    work.append(w)
        hi = max(comp)
        for u in comp:
            want[u] = hi
    assert got == want


@pytest.mark.parametrize("trial", range(25))
def test_kruskal_matches_prim_weight_and_cut_rule(trial):
    rng = random.Random(3000 + trial)
    n = rng.randrange(2, 30)
    pairs = {
        tuple(sorted(rng.sample(range(n), 2)))
        for _ in range(rng.randrange(1, 70))
    }
    edges = [(a, b, float(rng.randrange(1, 30))) for a, b in pairs]
    out = _batch_kruskal(
        pd.DataFrame(edges, columns=["src", "dst", "weight"])
    )
    got = set(zip(out["src"], out["dst"], out["weight"]))
    # reference: Prim from every component, total-order tie-break —
    # the MSF is unique under the (weight, src, dst) total order, so
    # edge SETS must match exactly
    adj = {}
    verts = set()
    for s, d, w in edges:
        adj.setdefault(s, []).append((w, s, d))
        adj.setdefault(d, []).append((w, s, d))
        verts |= {s, d}
    want, seen = set(), set()
    for v0 in sorted(verts):
        if v0 in seen:
            continue
        seen.add(v0)
        heap = list(adj.get(v0, ()))
        heapq.heapify(heap)
        while heap:
            w, s, d = heapq.heappop(heap)
            new = d if s in seen else s
            if new in seen:
                continue
            seen.add(new)
            want.add((s, d, w))
            for e in adj.get(new, ()):
                heapq.heappush(heap, e)
    assert got == want
    assert sum(w for _, _, w in got) == sum(w for _, _, w in want)


@pytest.mark.parametrize("trial", range(25))
def test_temporal_dijkstra_matches_bellman_ford(trial):
    rng = random.Random(4000 + trial)
    n = rng.randrange(2, 25)
    edges = [
        (rng.randrange(n), rng.randrange(n), rng.randrange(12))
        for _ in range(rng.randrange(1, 70))
    ]
    seeds = [(rng.randrange(n), rng.randrange(5)) for _ in range(2)]
    out = _batch_temporal_dijkstra(
        pd.DataFrame(seeds, columns=["id", "arrival"]),
        pd.DataFrame(edges, columns=["__s", "__d", "__t"]),
    )
    got = dict(zip(out["id"], out["arrival"]))
    # reference: naive Bellman-Ford-style relaxation to fixpoint
    want = {}
    for i, a in seeds:
        want[i] = min(a, want.get(i, a))
    changed = True
    while changed:
        changed = False
        for s, d, t in edges:
            if s in want and t >= want[s] and t < want.get(d, t + 1):
                want[d] = t
                changed = True
    assert got == want
