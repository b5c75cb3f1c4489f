"""Neighborhood-similarity operators: Jaccard and overlap coefficient.

Semantics of reference jaccard_similarity.py:8-18 / overlap_coefficient.py:8-25
(|A∩B| over adjacency sets), with the physical plan redesigned for scale:

The reference theta-joins every vertex pair (``a.id != b.id``), which plans as
a BroadcastNestedLoopJoin producing O(V²) rows — fatal beyond toy scale. We
instead enumerate only pairs that share at least one neighbor: explode the
adjacency list to (vertex, neighbor) pairs and self-equi-join on the
*neighbor* key. Output size is Σ_w deg(w)² over the common-neighbor vertices
— the true candidate set — and the join is a shuffled hash join on a single
key, AQE-skew-splittable.

Deviations from the reference (documented, intentional):
- Pairs with zero common neighbors (similarity 0) are not emitted.
- Each unordered pair is emitted once, canonically ``src < dst`` (the
  reference emits both directions).
- The similarity column is DOUBLE (the reference declared LongType by
  mistake, overlap_coefficient.py:13-15).

Skew note: a vertex of degree d contributes d² candidate pairs. For power-law
graphs cap the hub fan-out with ``max_degree`` (drops hubs from the common-
neighbor expansion — standard practice in MinHash/similarity pipelines) or
rely on AQE skew splitting.

Driver path: under ``strategy="auto"`` the edge pairs are fetched as numpy
arrays with one limited Arrow collect (``util.fetch_arrays``) while they
fit ``BATCH_ROWS`` rows, and the index plan is replayed in numpy:
symmetrize (undirected), dedup (id, neighbour), drop hub neighbours,
expand the pairs inside each neighbour group and count them. The score
and the ``min_similarity`` filter run in numpy too, and the result is a
local DataFrame of the final columns (``util.local_frame``) — one Spark
job in, one Arrow collect out. The second bound is
the candidate wedges Σ C(k, 2) over the neighbour groups, counted from the
fetched arrays, so checking it costs no job. Over either bound, and for
non-integral ids, ``auto`` takes a Spark plan, and only then pays the
one edge and endpoint count that chooses it (``_choose_pairs``).

Every plan ignores an edge with a null endpoint: a null is nobody's
neighbour, and it counts toward no degree (SQL's ``COUNT(DISTINCT dst)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.util import (
    BATCH_ROWS,
    dense_pairs,
    edge_counts,
    fetch_arrays,
    later_pairs,
    local_frame,
)

# ``BATCH_ROWS`` bounds both the edge rows ``auto`` scores in the driver
# and the candidate wedges it may expand there, read as this module's
# global so that it can be lowered here


def _pair_common_counts_complement(g: Graph) -> DataFrame:
    """Dense-graph path via the complement: for near-complete graphs the
    *missing* edges are the small object, so count shared NON-neighbors and
    invert with inclusion-exclusion:

        |N(a)∩N(b)| = n − |M(a)∪M(b)| = deg(a) + deg(b) − n + |M(a)∩M(b)|

    over the universe U of every edge endpoint (n = |U|), where M(x) =
    U − N(x) — x itself included unless x has a self-loop, so a self-loop
    counts as the index plan counts it, and an endpoint missing from the
    vertex table is a vertex like any other. |M(a)∩M(b)| comes from an
    inverted-index join over the complement edge list, whose volume is
    Σ_w (n−deg(w))² — negligible exactly when the graph is dense.

    Measured on the sf0.1 near-complete supplier graph (V=1000, ~500k
    edges): the direct index path pushes ~1e9 join rows (~40 s); here the
    complement has only ~500 pairs and the whole query is a V²/2 id-only
    cross join plus tiny joins (~3 s). Exact for ANY graph — only the cost
    profile is density-dependent.
    """
    # neighbor sets follow the graph's own semantics: out-neighbors for
    # directed graphs, all neighbors for undirected (same as the index path)
    nbr = (
        g.symmetric_edges.select(SRC, DST).dropna().distinct().localCheckpoint()
    )
    ids = (
        nbr.select(F.col(SRC).alias(ID))
        .union(nbr.select(F.col(DST).alias(ID)))
        .distinct()
        .localCheckpoint()
    )
    n = ids.count()
    deg = nbr.groupBy(SRC).agg(F.count(F.lit(1)).alias("__deg"))
    a = ids.select(F.col(ID).alias(SRC))
    b = ids.select(F.col(ID).alias(DST))
    # directed complement: ordered pairs (the diagonal too) with no edge
    comp = (
        a.crossJoin(F.broadcast(b)).join(nbr, on=[SRC, DST], how="anti")
        .localCheckpoint()
    )
    ca = comp.alias("ca")
    cb = comp.alias("cb")
    mm = (
        ca.join(
            cb,
            on=[
                F.col(f"ca.{DST}") == F.col(f"cb.{DST}"),
                F.col(f"ca.{SRC}") < F.col(f"cb.{SRC}"),
            ],
        )
        .groupBy(
            F.col(f"ca.{SRC}").alias(SRC), F.col(f"cb.{SRC}").alias(DST)
        )
        .agg(F.count(F.lit(1)).alias("__mm"))
    )
    pairs = a.join(F.broadcast(b), on=F.col(SRC) < F.col(DST))
    out = (
        pairs.join(mm, on=[SRC, DST], how="left")
        .join(
            deg.withColumnsRenamed({SRC: SRC, "__deg": "src_degree"}),
            on=SRC, how="left",
        )
        .join(
            deg.withColumnsRenamed({SRC: DST, "__deg": "dst_degree"}),
            on=DST, how="left",
        )
        .withColumn("src_degree", F.coalesce("src_degree", F.lit(0)))
        .withColumn("dst_degree", F.coalesce("dst_degree", F.lit(0)))
    )
    common = (
        F.col("src_degree") + F.col("dst_degree") - F.lit(n)
        + F.coalesce("__mm", F.lit(0))
    )
    return out.select(
        SRC,
        DST,
        common.alias("common"),
        "src_degree",
        "dst_degree",
    ).filter(F.col("common") > 0)


def _pair_common_counts(g: Graph, max_degree: int | None) -> DataFrame:
    """(src, dst, common, src_degree, dst_degree) for pairs sharing ≥1 neighbor.

    Neighbor pairs come straight from the (deduped) symmetric edge list —
    building the adjacency arrays only to explode them again would add a
    collect_set shuffle and an isolated-vertex branch for nothing.
    """
    nbrs = (
        g.symmetric_edges.select(F.col(SRC).alias(ID), F.col(DST).alias("__nb"))
        .dropna()
        .distinct()
        .localCheckpoint()  # feeds deg, both join sides
    )
    deg = nbrs.groupBy(ID).agg(F.count(F.lit(1)).alias("__deg"))
    if max_degree is not None:
        hubs = deg.filter(F.col("__deg") > max_degree).select(
            F.col(ID).alias("__nb")
        )
        nbrs = nbrs.join(F.broadcast(hubs), on="__nb", how="anti")
    a = nbrs.alias("a")
    b = nbrs.alias("b")
    common = (
        a.join(
            b,
            on=[
                F.col("a.__nb") == F.col("b.__nb"),
                F.col(f"a.{ID}") < F.col(f"b.{ID}"),
            ],
        )
        .groupBy(
            F.col(f"a.{ID}").alias(SRC),
            F.col(f"b.{ID}").alias(DST),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(deg.withColumnsRenamed({ID: SRC, "__deg": "src_degree"}), SRC)
        .join(deg.withColumnsRenamed({ID: DST, "__deg": "dst_degree"}), DST)
    )


def _choose_pairs(
    g: Graph, max_degree: int | None, strategy: str
) -> DataFrame:
    """Pick the candidate-pair plan.

    ``index``: inverted-index join (output Σ deg² over the neighbours).
    ``complement``: the same counts from the missing edges (dense graphs;
    it takes no ``max_degree``).
    ``auto`` (above the driver bounds): index under a degree cap, else
    complement once the graph holds over half of all possible edges (the
    rule of TriangleCount's ``auto``) and the V²/2 pair cross join stays
    tractable, else index. n is the universe complement cross-joins:
    the non-null edge endpoints, counted in one job with the edges.
    """
    if strategy == "auto":
        strategy = "index"
        if max_degree is None:
            n_edges, n = edge_counts(
                g.symmetric_edges.select(SRC, DST).dropna().distinct()
            )
            density = n_edges / max(n * (n - 1), 1)
            if density > 0.5 and n <= 200_000:
                strategy = "complement"
    if strategy == "complement":
        return _pair_common_counts_complement(g)
    if strategy == "index":
        return _pair_common_counts(g, max_degree)
    raise ValueError(f"unknown strategy {strategy!r}")


def _driver_pair_counts(g: Graph, max_degree: int | None):
    """``(ids, src, dst, common, src_degree, dst_degree)``: the index
    plan's pair counts as numpy arrays, ``src``/``dst`` as indexes into
    the sorted ``ids``, from one limited Arrow fetch of the edge pairs
    without a null endpoint — or None when the input is over either
    driver bound or has non-integral ids."""
    import numpy as np

    e = fetch_arrays(BATCH_ROWS, g.edges.select(SRC, DST).dropna())
    if e is None:
        return None
    src, dst = e[0][SRC], e[0][DST]
    if not g.directed:
        src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
    # distinct (id, neighbour) rows
    ids, a, nb = dense_pairs(src, dst)
    n = len(ids)
    deg = np.bincount(a, minlength=n)
    if max_degree is not None:
        keep = deg[nb] <= max_degree
        a, nb = a[keep], nb[keep]
    # neighbour groups, ascending id inside each: every member pairs with
    # the later members of its group, so each pair comes out with a < b
    order = np.lexsort((a, nb))
    a, nb = a[order], nb[order]
    later = np.searchsorted(nb, nb, side="right") - np.arange(len(a)) - 1
    if later.sum() > BATCH_ROWS:
        return None
    first, second = later_pairs(later)
    pair, common = np.unique(a[first] * n + a[second], return_counts=True)
    s, d = pair // n, pair % n
    return ids, s, d, common, deg[s], deg[d]


class _NeighborhoodScore:
    """One score over the pairs that share a neighbour: ``score(common,
    src_degree, dst_degree, least)`` holds for Spark columns and numpy
    arrays alike, so the driver path and the Spark plans compute it with
    the same double algebra."""

    column: str
    both_directions = False

    def __init__(
        self,
        min_similarity: float = 0.0,
        max_degree: int | None = None,
        strategy: str = "auto",
    ):
        if strategy == "complement" and max_degree is not None:
            # the complement counts every common neighbour, hubs included
            raise ValueError("strategy='complement' takes no max_degree")
        self.min_similarity = min_similarity
        self.max_degree = max_degree
        self.strategy = strategy

    def _run_driver(self, g: Graph) -> DataFrame | None:
        import numpy as np

        counts = _driver_pair_counts(g, self.max_degree)
        if counts is None:
            return None
        ids, s, d, common, sd, dd = counts
        if self.both_directions:
            s, d = np.concatenate([s, d]), np.concatenate([d, s])
            sd, dd = np.concatenate([sd, dd]), np.concatenate([dd, sd])
            common = np.concatenate([common, common])
        score = self.score(common, sd, dd, np.minimum)
        keep = score >= self.min_similarity
        # ids typed as the Spark plan's, which reads them from symmetric_edges
        id_type = g.symmetric_edges.schema[SRC].dataType.simpleString()
        return local_frame(
            g.edges.sparkSession,
            f"{SRC} {id_type}, {DST} {id_type}, {self.column} double",
            ids[s[keep]],
            ids[d[keep]],
            score[keep],
        )

    def run(self, g: Graph) -> DataFrame:
        if self.strategy == "auto":
            out = self._run_driver(g)
            if out is not None:
                return out
        pairs = _choose_pairs(g, self.max_degree, self.strategy)
        if self.both_directions:
            pairs = pairs.unionByName(
                pairs.select(
                    F.col(DST).alias(SRC),
                    F.col(SRC).alias(DST),
                    "common",
                    F.col("dst_degree").alias("src_degree"),
                    F.col("src_degree").alias("dst_degree"),
                )
            )
        score = self.score(
            F.col("common"), F.col("src_degree"), F.col("dst_degree"), F.least
        )
        out = pairs.select(SRC, DST, score.alias(self.column))
        if self.min_similarity > 0.0:
            out = out.filter(F.col(self.column) >= self.min_similarity)
        return out


class JaccardSimilarity(_NeighborhoodScore):
    """|A∩B| / |A∪B| over neighbor sets, for pairs with ≥1 common neighbor.

    Result: (src, dst, jaccard double), src < dst.
    """

    column = "jaccard"

    @staticmethod
    def score(common, src_degree, dst_degree, least):
        return common / (src_degree + dst_degree - common)


class NeighborhoodContainment(_NeighborhoodScore):
    """|A∩B| / |A| — the asymmetric containment of src's neighborhood in
    dst's. Emitted in **both directions** for every unordered pair with a
    common neighbor (containment is direction-dependent). Useful for
    sub/superset structure that symmetric Jaccard hides.

    Result: (src, dst, containment double).
    """

    column = "containment"
    both_directions = True

    @staticmethod
    def score(common, src_degree, dst_degree, least):
        return common / src_degree


class OverlapCoefficient(_NeighborhoodScore):
    """|A∩B| / min(|A|, |B|) over neighbor sets, pairs with ≥1 common neighbor.

    Result: (src, dst, overlap double), src < dst.
    """

    column = "overlap"

    @staticmethod
    def score(common, src_degree, dst_degree, least):
        return common / least(src_degree, dst_degree)
