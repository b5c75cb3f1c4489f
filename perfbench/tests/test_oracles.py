"""The vectorized oracles against plain-Python reference loops."""

from collections import Counter

import networkx as nx
import numpy as np
import pytest

from perfbench import gen, oracles

SIZE = gen.GraphSize(8, 900)


@pytest.fixture(params=[1, 2, 3])
def graph(request):
    src, dst = gen.rmat_edges(SIZE, request.param)
    return 1 << SIZE.scale, src, dst


def test_pagerank_matches_loop(graph):
    n, src, dst = graph
    s, d = np.concatenate([src, dst]), np.concatenate([dst, src])
    deg = Counter(s.tolist())
    pr = [1.0] * n
    for _ in range(10):
        contrib = [0.0] * n
        for u, v in zip(s.tolist(), d.tolist()):
            contrib[v] += pr[u] / deg[u]
        pr = [0.15 + 0.85 * c for c in contrib]
    np.testing.assert_allclose(oracles.pagerank(n, s, d), pr, rtol=1e-12)


def test_label_propagation_matches_loop(graph):
    n, src, dst = graph
    rng = np.random.default_rng(0)
    labels0 = rng.permutation(n).astype(np.int64) - n // 2  # signed, distinct
    state = labels0.tolist()
    changed = set(range(n))
    rounds = 0
    while rounds < 4:
        inbox = {}
        for u, v in zip(src.tolist(), dst.tolist()):
            if u in changed:
                inbox.setdefault(v, []).append(state[u])
            if v in changed:
                inbox.setdefault(u, []).append(state[v])
        if not inbox:
            break
        rounds += 1
        changed = set()
        new = list(state)
        for v, msgs in inbox.items():
            counts = Counter(msgs)
            best = min(counts, key=lambda lab: (-counts[lab], lab))
            if best != state[v]:
                changed.add(v)
            new[v] = best
        state = new
        if not changed:
            break
    got, got_rounds = oracles.label_propagation(labels0, src, dst, 4)
    assert got.tolist() == state
    assert got_rounds == rounds


def test_components_and_triangles_match_networkx(graph):
    n, src, dst = graph
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    labels = np.arange(n, dtype=np.int64)
    want = np.empty(n, dtype=np.int64)
    for members in nx.connected_components(g):
        want[list(members)] = min(members)
    got = oracles.min_label(oracles.component_index(n, src, dst), labels)
    np.testing.assert_array_equal(got, want)
    assert oracles.triangle_count(src, dst) == sum(nx.triangles(g).values()) // 3
    np.testing.assert_array_equal(
        oracles.out_degrees(labels, src, dst), np.bincount(src, minlength=n)
    )


def test_jaccard_digest_matches_loop(graph):
    n, src, dst = graph
    nbrs = {v: set() for v in range(n)}
    for u, v in zip(src.tolist(), dst.tolist()):
        nbrs[u].add(v)
        nbrs[v].add(u)
    cap = 20
    pairs = 0
    jsum = 0.0
    key = 0
    for a in range(n):
        for b in range(a + 1, n):
            common = sum(1 for w in nbrs[a] & nbrs[b] if len(nbrs[w]) <= cap)
            if common:
                pairs += 1
                jsum += common / (len(nbrs[a]) + len(nbrs[b]) - common)
                key += (a << 20) + b
    got = oracles.jaccard_digest(src, dst, cap, 20)
    assert got[0] == pairs and got[2] == key
    assert got[1] == pytest.approx(jsum, rel=1e-12)
