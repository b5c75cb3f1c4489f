"""Triangle counting via canonicalized motif join (reference triangle_count.py:6-9).

Edges are canonicalized (self-loops dropped, endpoints ordered ascending,
deduped) so each undirected triangle ``a<b<c`` is matched exactly once by the
pattern ``(a,b),(b,c),(a,c)``.

Physical plan: two shuffled equi-joins over the canonical edge list — the
standard distributed triangle enumeration. At 100 TB scale the dominant cost
is the join on high-degree vertices; AQE skew-join splitting handles moderate
skew, and a degree-ordered orientation (each edge stored from the
lower-degree endpoint) is the classic further optimization if needed.
Below ``BATCH_ROWS`` edge rows that orientation is what ``run`` does, in
numpy in the driver on one limited Arrow fetch of the edge pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.util import (
    arrays,
    dense_pairs,
    fetch_bounded,
    int_columns,
    later_pairs,
    match_structure,
    order_edges,
)

# edge rows ``auto`` counts in the driver (the batch bound of PageRank and
# connected components); wedges checked per numpy block, which bounds the
# driver's working memory
BATCH_ROWS = 1_000_000
_WEDGE_BLOCK = 1 << 22


def _count_triangles(src, dst) -> int:
    """Exact triangle count of the undirected simple graph under an edge
    list (self-loops dropped, duplicates and orientation folded), by the
    degree-ordered wedge check: orient every edge from the endpoint of
    lower (degree, id) rank to the higher, then count the wedges
    u→v, u→w (v < w) closed by an edge v→w. Each triangle is counted once,
    at its lowest-ranked vertex, and no vertex has more than √(2m)
    out-neighbours, so the work is O(m^1.5)."""
    import numpy as np

    loop_free = src != dst
    lo = np.minimum(src, dst)[loop_free]
    hi = np.maximum(src, dst)[loop_free]
    if len(lo) == 0:
        return 0
    ids, a, b = dense_pairs(lo, hi)
    n = len(ids)
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    rank = np.empty(n, dtype=np.int64)
    rank[np.lexsort((np.arange(n), deg))] = np.arange(n)
    u = np.minimum(rank[a], rank[b])
    v = np.maximum(rank[a], rank[b])
    order = np.lexsort((v, u))
    u, v = u[order], v[order]
    edge_keys = u * n + v  # sorted: by u, then by v
    row_end = np.searchsorted(u, u, side="right")
    # each edge pairs with the later edges of its row: u→v, u→w, v < w
    later = row_end - np.arange(len(u)) - 1
    total = 0
    bounds = np.searchsorted(
        np.cumsum(later), np.arange(0, later.sum(), _WEDGE_BLOCK), side="right"
    )
    for start, stop in zip(bounds, list(bounds[1:]) + [len(u)]):
        first, second = later_pairs(later[start:stop], start)
        q = v[first] * n + v[second]
        pos = np.minimum(np.searchsorted(edge_keys, q), len(edge_keys) - 1)
        total += int(np.count_nonzero(edge_keys[pos] == q))
    return total


class TriangleCount:
    """Count (or enumerate) triangles in the undirected view of a graph.

    ``run`` picks between exact counting strategies:

    - ``auto`` while the edge table fits ``BATCH_ROWS`` rows: one
      limited Arrow fetch of the edge pairs and a numpy degree-ordered
      wedge check in the driver — one Spark job, no count probe.
    - ``motif``: the canonical two-join wedge enumeration (cost Ω(wedges)).
    - ``complement``: inclusion-exclusion over the complement graph —

          T(G) = C(n,3) − |Ē|·(n−2) + Σ_v C(deḡ(v), 2) − T(Ḡ)

      (triples minus triples containing ≥1 non-edge, corrected for pairs of
      non-edges sharing a vertex and for complement triangles). Every term
      is an aggregate over the complement edge list, which is the *small*
      object exactly when the graph is dense and the motif join is at its
      worst. Above the batch bound ``auto`` switches between ``motif`` and
      ``complement`` on measured density.

    Enumeration (``triangles``) always uses the motif join — the row set
    itself is Ω(T(G)).
    """

    def __init__(self, strategy: str = "auto"):
        self.strategy = strategy

    def triangles(self, g: Graph) -> DataFrame:
        """DataFrame of one row per triangle, columns (a, b, c) with a<b<c."""
        return match_structure(
            order_edges(g.edges), [("a", "b"), ("b", "c"), ("a", "c")]
        )

    def _count_complement(self, g: Graph) -> int:
        ids = g.vertices.select(ID).localCheckpoint()
        n = ids.count()
        canon = order_edges(g.edges).localCheckpoint()
        n_edges = canon.count()
        a = ids.select(F.col(ID).alias(SRC))
        b = ids.select(F.col(ID).alias(DST))
        pairs = a.join(F.broadcast(b), on=F.col(SRC) < F.col(DST))
        comp = pairs.join(canon, on=[SRC, DST], how="anti").localCheckpoint()
        comp_edges = comp.count()
        comp_deg = (
            comp.select(F.col(SRC).alias(ID))
            .unionByName(comp.select(F.col(DST).alias(ID)))
            .groupBy(ID)
            .agg(F.count(F.lit(1)).alias("d"))
        )
        s2_row = comp_deg.agg(
            F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("s2")
        ).first()
        s2 = int(s2_row["s2"] or 0)
        comp_triangles = (
            match_structure(comp, [("a", "b"), ("b", "c"), ("a", "c")]).count()
        )
        c_n3 = n * (n - 1) * (n - 2) // 6
        return c_n3 - comp_edges * (n - 2) + s2 - comp_triangles

    def _count_batch(self, g: Graph) -> int | None:
        """The driver count, or None above the bound (or for non-integral
        ids, which the int64 kernel does not take)."""
        import numpy as np

        pairs = g.edges.select(SRC, DST)
        if not int_columns(pairs, SRC, DST):
            return None
        # a null endpoint joins nothing in the motif plan
        e = fetch_bounded(pairs.dropna(), BATCH_ROWS)
        e = None if e is None else arrays(e, **{SRC: np.int64, DST: np.int64})
        return None if e is None else _count_triangles(e[SRC], e[DST])

    def run(self, g: Graph) -> int:
        strategy = self.strategy
        if strategy == "auto":
            n = self._count_batch(g)
            if n is not None:
                return n
            n = g.vertices.count()
            if 2 < n <= 200_000:
                n_edges = order_edges(g.edges).count()
                density = 2 * n_edges / (n * (n - 1))
                strategy = "complement" if density > 0.5 else "motif"
            else:
                strategy = "motif"
        if strategy == "complement":
            return self._count_complement(g)
        if strategy == "motif":
            return self.triangles(g).count()
        raise ValueError(f"unknown strategy {strategy!r}")
