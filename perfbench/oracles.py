"""Independent output oracles (numpy, networkx, DuckDB).

None of these import ``pyspark_graph_spark``. Vertices are addressed by
position in an ``ids`` array; edge arrays hold positions (``*_idx``) or raw
ids as each function states.
"""

from __future__ import annotations

import networkx as nx
import numpy as np


def pagerank(n: int, src_idx, dst_idx, alpha: float = 0.85, iterations: int = 10):
    """The engine's PageRank: reset 1.0 on every vertex (unnormalized), rank
    split evenly over out-edges, no dangling redistribution, fixed
    iteration count. ``src_idx``/``dst_idx`` is the directed edge list the
    engine iterates over (for an undirected graph, both orientations)."""
    deg = np.bincount(src_idx, minlength=n).astype(np.float64)
    share = np.zeros(n)
    has_out = deg > 0
    pr = np.ones(n)
    for _ in range(iterations):
        share[has_out] = pr[has_out] / deg[has_out]
        contrib = np.bincount(dst_idx, weights=share[src_idx], minlength=n)
        pr = (1.0 - alpha) + alpha * contrib
    return pr


def component_index(n: int, src_idx, dst_idx) -> np.ndarray:
    """Connected-component number per vertex position (networkx)."""
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(zip(src_idx.tolist(), dst_idx.tolist()))
    comp = np.empty(n, dtype=np.int64)
    for k, members in enumerate(nx.connected_components(g)):
        comp[list(members)] = k
    return comp


def min_label(comp: np.ndarray, labels: np.ndarray) -> np.ndarray:
    """Per vertex, the smallest ``labels`` value in its component."""
    best = np.full(comp.max() + 1, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(best, comp, labels)
    return best[comp]


def label_propagation(labels0, src_idx, dst_idx, max_iterations: int):
    """Exact replay of the engine's frontier label propagation.

    Per round every vertex that changed in the previous round (all vertices
    in round one) sends its label along each directed edge both ways; a
    vertex that received messages adopts their most frequent label, ties
    going to the smallest label; vertices without messages keep theirs.
    Stops early when no label changes. Returns (labels, rounds run).
    """
    state = np.array(labels0, dtype=np.int64)
    changed = np.ones(len(state), dtype=bool)
    rounds = 0
    while rounds < max_iterations:
        fwd, bwd = changed[src_idx], changed[dst_idx]
        recv = np.concatenate([dst_idx[fwd], src_idx[bwd]])
        lab = np.concatenate([state[src_idx[fwd]], state[dst_idx[bwd]]])
        if recv.size == 0:
            break
        rounds += 1
        order = np.lexsort((lab, recv))
        recv, lab = recv[order], lab[order]
        run = np.ones(len(recv), dtype=bool)
        run[1:] = (recv[1:] != recv[:-1]) | (lab[1:] != lab[:-1])
        starts = np.flatnonzero(run)
        counts = np.diff(np.append(starts, len(recv)))
        recv, lab = recv[starts], lab[starts]
        order = np.lexsort((lab, -counts, recv))
        recv, lab = recv[order], lab[order]
        first = np.ones(len(recv), dtype=bool)
        first[1:] = recv[1:] != recv[:-1]
        recv, lab = recv[first], lab[first]
        changed = np.zeros(len(state), dtype=bool)
        changed[recv] = lab != state[recv]
        state[recv] = lab
        if not changed.any():
            break
    return state, rounds


def _duck(src, dst, ids=None):
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    con.register("e", pa.table({"src": src, "dst": dst}))
    if ids is not None:
        con.register("v", pa.table({"id": ids}))
    return con


def triangle_count(src, dst) -> int:
    """Triangles of an undirected graph given as canonical ``src < dst``."""
    con = _duck(src, dst)
    q = """SELECT count(*) FROM e a
           JOIN e b ON a.dst = b.src
           JOIN e c ON c.src = a.src AND c.dst = b.dst"""
    return int(con.execute(q).fetchone()[0])


def out_degrees(ids, src, dst) -> np.ndarray:
    """Outgoing-edge count per id of ``ids`` (0 when none); over a symmetric
    list of distinct edges, the undirected degree."""
    con = _duck(src, dst, ids)
    q = """SELECT v.id, count(e.dst) AS d FROM v LEFT JOIN e ON v.id = e.src
           GROUP BY v.id ORDER BY v.id"""
    got = con.execute(q).fetchnumpy()
    out = np.zeros(len(ids), dtype=np.int64)
    out[np.searchsorted(ids, got["id"])] = got["d"]
    return out


def jaccard_digest(src, dst, max_degree: int | None, id_bits: int) -> tuple:
    """(pairs, sum of jaccard, sum of (src << id_bits) + dst) over the pairs
    ``src < dst`` sharing a neighbor, hubs above ``max_degree`` excluded as
    shared neighbors; degrees are the full distinct-neighbor counts."""
    con = _duck(src, dst)
    cap = "" if max_degree is None else f"WHERE deg.d <= {int(max_degree)}"
    q = f"""
    WITH nb AS (SELECT src AS id, dst AS nb FROM e UNION SELECT dst, src FROM e),
    deg AS (SELECT id, count(*) AS d FROM nb GROUP BY id),
    nbc AS (SELECT nb.id, nb.nb FROM nb JOIN deg ON nb.nb = deg.id {cap}),
    pairs AS (SELECT a.id AS s, b.id AS t, count(*) AS c FROM nbc a
              JOIN nbc b ON a.nb = b.nb AND a.id < b.id GROUP BY 1, 2)
    SELECT count(*), sum(c / (da.d + db.d - c)), sum((s << {id_bits}) + t)
    FROM pairs JOIN deg da ON da.id = s JOIN deg db ON db.id = t"""
    n, jsum, key = con.execute(q).fetchone()
    return int(n), float(jsum or 0.0), int(key or 0)
