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

Driver path: under ``strategy="auto"`` the edge pairs are fetched with one
limited Arrow collect (``util.fetch_bounded``) while they fit ``BATCH_ROWS``
rows, and the index plan is replayed in numpy: symmetrize (undirected),
dedup (id, neighbour), drop hub neighbours, expand the pairs inside each
neighbour group and count them. The score and the ``min_similarity``
filter run in numpy too, and the result is a local DataFrame of the final
columns — one Spark job in, one Arrow collect out. The second bound is
the candidate wedges Σ C(k, 2) over the neighbour groups, counted from the
fetched arrays, so checking it costs no job. Over either bound, and for
null endpoints or non-integral ids, ``auto`` takes the Spark plans below,
and only then pays their vertex-count and distinct-edge probes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import ADJ, DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.util import (
    arrays,
    dense_pairs,
    fetch_bounded,
    int_columns,
    later_pairs,
)

# edge rows ``auto`` scores in the driver, and candidate wedges it may
# expand there (the batch bound of PageRank, CC and TriangleCount)
BATCH_ROWS = 1_000_000


def _pair_common_counts_allpairs(g: Graph) -> DataFrame:
    """Dense-graph path: all vertex pairs scored row-locally with
    ``array_intersect`` over the (sorted) adjacency arrays.

    Measured tradeoff (sf0.1 supplier graph, V=1000 near-complete): the
    index path pushes Σ_w deg(w)² ≈ 1e9 rows through a codegen'd join in
    ~36 s; this path's 500k ``array_intersect`` calls over ~1000-element
    arrays took ~170 s — per-row hash-set construction loses to raw codegen
    row throughput well before V² row counts win. So ``auto`` only picks
    this path for very small V, where the broadcast no-shuffle plan wins
    outright; it remains available explicitly for moderate-V sparse-ish
    graphs with short adjacency arrays.
    """
    adj = g.adjacency.localCheckpoint()
    a = adj.select(F.col(ID).alias(SRC), F.col(ADJ).alias("__aa"))
    b = adj.select(F.col(ID).alias(DST), F.col(ADJ).alias("__ab"))
    return (
        a.join(F.broadcast(b), on=F.col(SRC) < F.col(DST))
        .select(
            SRC,
            DST,
            F.size(F.array_intersect("__aa", "__ab")).alias("common"),
            F.size("__aa").alias("src_degree"),
            F.size("__ab").alias("dst_degree"),
        )
        .filter(F.col("common") > 0)
    )


def _pair_common_counts_complement(g: Graph) -> DataFrame:
    """Dense-graph path via the complement: for near-complete graphs the
    *missing* edges are the small object, so count shared NON-neighbors and
    invert with inclusion-exclusion:

        |N(a)∩N(b)| = n − (|M(a)| + |M(b)| − |M(a)∩M(b)| + extra)

    where M(x) = non-neighbors of x (excluding x), |M(x)| = n−1−deg(x), and
    ``extra`` counts the members of {a,b} not already inside M(a)∪M(b) —
    2 when a,b are adjacent, 0 otherwise. |M(a)∩M(b)| comes from an
    inverted-index join over the complement edge list, whose volume is
    Σ_w (n−1−deg(w))² — negligible exactly when the graph is dense.

    Measured on the sf0.1 near-complete supplier graph (V=1000, ~500k
    edges): the direct index path pushes ~1e9 join rows (~40 s); here the
    complement has only ~500 pairs and the whole query is a V²/2 id-only
    cross join plus tiny joins (~3 s). Exact for ANY graph — only the cost
    profile is density-dependent.
    """
    ids = g.vertices.select(ID).localCheckpoint()
    n = ids.count()
    # neighbor sets follow the graph's own semantics: out-neighbors for
    # directed graphs, all neighbors for undirected (same as the index path)
    nbr = (
        g.symmetric_edges.select(SRC, DST)
        .filter(F.col(SRC) != F.col(DST))
        .distinct()
        .localCheckpoint()
    )
    deg = nbr.groupBy(SRC).agg(F.count(F.lit(1)).alias("__deg"))
    a = ids.select(F.col(ID).alias(SRC))
    b = ids.select(F.col(ID).alias(DST))
    ordered = a.join(F.broadcast(b), on=F.col(SRC) != F.col(DST))
    # directed complement: ordered pairs with no edge src->dst
    comp = ordered.join(nbr, on=[SRC, DST], how="anti").localCheckpoint()
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
    fwd = nbr.withColumn("__fwd", F.lit(1))
    bwd = nbr.select(
        F.col(DST).alias(SRC), F.col(SRC).alias(DST)
    ).withColumn("__bwd", F.lit(1))
    pairs = a.join(F.broadcast(b), on=F.col(SRC) < F.col(DST))
    out = (
        pairs.join(mm, on=[SRC, DST], how="left")
        .join(fwd, on=[SRC, DST], how="left")
        .join(bwd, on=[SRC, DST], how="left")
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
    m_a = F.lit(n - 1) - F.col("src_degree")
    m_b = F.lit(n - 1) - F.col("dst_degree")
    # a is outside M(a)∪M(b) iff edge b->a exists (mirror for b): those
    # members of {a,b} must be added to the excluded-union size
    extra = (
        F.when(F.col("__bwd").isNotNull(), F.lit(1)).otherwise(F.lit(0))
        + F.when(F.col("__fwd").isNotNull(), F.lit(1)).otherwise(F.lit(0))
    )
    common = (
        F.lit(n) - (m_a + m_b - F.coalesce("__mm", F.lit(0)) + extra)
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


_ALLPAIRS_MAX_VERTICES = 512  # V²/2 ≈ 130k row-local pairs


def _choose_pairs(
    g: Graph, max_degree: int | None, strategy: str
) -> DataFrame:
    """Pick the candidate-pair plan.

    ``index``: inverted-index join (sparse graphs — output Σ deg² bounded).
    ``allpairs``: broadcast self-join + array_intersect (dense small-V).
    ``auto`` (above the driver bounds): allpairs when the vertex count (one
    cheap count) is small, complement on dense graphs, else index.
    """
    if strategy == "auto":
        if max_degree is not None:
            strategy = "index"
        else:
            n = g.vertices.count()
            if n <= _ALLPAIRS_MAX_VERTICES:
                strategy = "allpairs"
            else:
                # dense regime: complement beats the index once the graph
                # holds a large fraction of all possible edges (and the V²/2
                # pair cross-join stays tractable)
                n_edges = g.symmetric_edges.select(SRC, DST).distinct().count()
                density = n_edges / max(n * (n - 1), 1)
                strategy = (
                    "complement" if density > 0.25 and n <= 200_000 else "index"
                )
    if strategy == "allpairs":
        return _pair_common_counts_allpairs(g)
    if strategy == "complement":
        return _pair_common_counts_complement(g)
    if strategy == "index":
        return _pair_common_counts(g, max_degree)
    raise ValueError(f"unknown strategy {strategy!r}")


def _driver_pair_counts(g: Graph, max_degree: int | None):
    """``(ids, src, dst, common, src_degree, dst_degree)``: the index
    plan's pair counts as numpy arrays, ``src``/``dst`` as indexes into
    the sorted ``ids``, from one limited Arrow fetch of the edge pairs —
    or None when the input is over either driver bound, has a null
    endpoint (a null neighbour still counts toward the Spark plan's
    degrees) or non-integral ids."""
    import numpy as np

    pairs = g.edges.select(SRC, DST)
    if not int_columns(pairs, SRC, DST):
        return None
    t = fetch_bounded(pairs, BATCH_ROWS)
    e = None if t is None else arrays(t, **{SRC: np.int64, DST: np.int64})
    if e is None:
        return None
    src, dst = e[SRC], e[DST]
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
        self.min_similarity = min_similarity
        self.max_degree = max_degree
        self.strategy = strategy

    def _run_driver(self, g: Graph) -> DataFrame | None:
        import numpy as np
        import pyarrow as pa
        from pyspark.sql.types import DoubleType, StructField, StructType

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
        id_type = g.symmetric_edges.schema[SRC].dataType
        schema = StructType([
            StructField(SRC, id_type),
            StructField(DST, id_type),
            StructField(self.column, DoubleType()),
        ])
        return g.edges.sparkSession.createDataFrame(
            pa.table([ids[s[keep]], ids[d[keep]], score[keep]], names=schema.names),
            schema,
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
