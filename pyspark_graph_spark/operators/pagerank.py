"""PageRank — power iteration over the edge list (GraphX semantics).

The reference lists PageRank as unsupported (README.md:24-38); this is an
engine extension. Semantics follow GraphX's classic formulation:

    pr_0(v) = 1.0
    pr_{k+1}(v) = (1-α) + α · Σ_{(u,v)∈E} pr_k(u) / outdeg(u)

(no dangling-mass redistribution — dangling vertices simply leak, as in
GraphX's default; documented, and what the SQL oracle states). Undirected
graphs contribute along both edge directions.

Physical shape (GraphX's, OSDI 2014): the edge table with its weights is
checkpointed once and then only scanned; the |V|-row rank state moves to
it. Each iteration joins the edges to the state (broadcast while it fits
``spark.sql.autoBroadcastJoinThreshold``, util.broadcast_if_small), and
one union + aggregate on the vertex id folds the contributions into the
next state. The out-degree (weight sum) rides the state as ``__deg``, so
a contribution is ``(pr * w) / deg`` as in the driver kernel.
Iterations stop at ``max_iterations`` or when the L1 delta, observed on
the state's own checkpoint, drops below ``tolerance``.

Scale: one shuffle of vertex-sized partial sums per iteration, plus the
broadcast of the state. Above the broadcast threshold the plain join
shuffles both sides; that is the path for vertex tables of any size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.util import (
    arrays,
    broadcast_if_small,
    checkpoint_observed,
    fetch_bounded,
    fetch_bounded_all,
    int_columns,
    positions,
)

PAGERANK = "pagerank"

# Bounded-batch finish: same contract and ulp story as the SVD/ALS
# kernels (operators/svd.py module note). While vertices + symmetric
# edges fit batch_finish, the driver fetches both in one limited Arrow
# collect (util.fetch_bounded_all): (src, dst), the weight only when
# weighted, and the vertex ids; unit weights and the reset vector are
# built in numpy. The kernel replays the identical double
# algebra in numpy: per edge (pr(src) * w) / deg(src), per vertex
# (1-α)·reset + α·(sum of contributions, 0 when none), the same
# iteration count and the same optional L1-delta early stop. The result
# is a local DataFrame, so a small request costs two Spark jobs in all:
# the fetch, and the Arrow collect that reads the result.
# Inputs the kernel cannot replay exactly (a zero out-weight sum, whose
# distributed division raises under ANSI; nulls) take the distributed
# plan. Above the bound the per-iteration join/aggregate plan is
# unchanged and remains the only 100 TB path.


def _edge_frame(g: Graph, weight_col) -> DataFrame | None:
    """``(src, dst)`` of ``g.edges``, plus ``__w`` when weighted, or None
    for non-integral ids, which the int64 kernels do not take."""
    w = [F.col(weight_col).cast("double").alias("__w")] if weight_col else []
    edges = g.edges.select(SRC, DST, *w)
    return edges if int_columns(edges, SRC, DST) else None


def _edge_arrays(g: Graph, t):
    """``(src, dst, w)`` arrays of ``g.symmetric_edges`` from a fetched
    ``_edge_frame`` table, or None on a null; an unweighted table gets
    the literal 1.0 weights here. An undirected graph is fetched once and
    mirrored in numpy: the union's rows from one scan of the edge
    table."""
    import numpy as np

    cols = {SRC: np.int64, DST: np.int64, "__w": np.float64}
    t = arrays(t, **{c: cols[c] for c in t.column_names})
    if t is None:
        return None
    src, dst = t[SRC], t[DST]
    wt = t.get("__w", np.ones(len(src), dtype=np.float64))
    if g.directed:
        return src, dst, wt
    return (
        np.concatenate([src, dst]),
        np.concatenate([dst, src]),
        np.concatenate([wt, wt]),
    )


def _pagerank_kernel(
    ids, reset, src, dst, w, alpha: float, max_iterations: int, tolerance
):
    """``(ids, ranks)`` sorted by id, or None when the input must run the
    distributed plan instead."""
    import numpy as np

    order = np.argsort(ids, kind="stable")
    ids, reset = ids[order], reset[order]
    # a fixed edge order makes the float sums independent of fetch order
    eorder = np.lexsort((dst, src))
    src, dst, w = src[eorder], dst[eorder], w[eorder]
    # out-degree (weight sum) over ALL edge sources, as the distributed
    # deg aggregate does
    dsrc, dinv = np.unique(src, return_inverse=True)
    deg = np.zeros(len(dsrc), dtype=np.float64)
    np.add.at(deg, dinv, w)
    # edge endpoints resolved against the vertex table: a source with no
    # rank row contributes nothing (the ranks join), a destination outside
    # the vertex table is dropped (the verts left join)
    s_idx, s_ok = positions(ids, src)
    d_idx, d_ok = positions(ids, dst)
    keep = s_ok & d_ok
    s_idx, d_idx = s_idx[keep], d_idx[keep]
    wk = w[keep]
    degk = deg[dinv[keep]]
    if np.any(degk == 0.0):
        # the distributed plan's division is unguarded — under ANSI a zero
        # out-weight sum raises DIVIDE_BY_ZERO there; defer so that loud
        # error is the behavior in both paths
        return None
    pr = reset.copy()
    for _ in range(max_iterations):
        contrib = np.zeros(len(ids), dtype=np.float64)
        np.add.at(contrib, d_idx, (pr[s_idx] * wk) / degk)
        new = (1.0 - alpha) * reset + alpha * contrib
        if tolerance is not None:
            delta = float(np.sum(np.abs(new - pr)))
            pr = new
            if delta < tolerance:
                break
        else:
            pr = new
    return ids, pr


def _ppr_multi_kernel(starts, src, dst, w, alpha: float, max_iterations: int):
    """All-sources personalized PageRank in the driver: ``(id, source,
    pagerank)`` columns, or None when the input must run the distributed
    plan. Per source the recurrence runs dense over the edge-endpoint id
    universe; the emitted row set equals the sparse plan's (restart ∪
    reachable): every sparse row's value is strictly positive —
    contributions are (positive pr · positive w / positive deg) sums — so
    positive-mass entries ARE the sparse row set. Nonpositive weights
    would break that equivalence; the kernel defers them."""
    import numpy as np

    if np.any(~(w > 0.0)):
        return None
    eorder = np.lexsort((dst, src))
    src, dst, w = src[eorder], dst[eorder], w[eorder]
    dsrc, dinv = np.unique(src, return_inverse=True)
    deg = np.zeros(len(dsrc), dtype=np.float64)
    np.add.at(deg, dinv, w)
    share_deg = deg[dinv]
    ids = np.unique(np.concatenate([src, dst, np.array(starts, dtype=np.int64)]))
    s_idx = np.searchsorted(ids, src)
    d_idx = np.searchsorted(ids, dst)
    out_id, out_src, out_pr = [], [], []
    for start in sorted(starts):
        reset = np.zeros(len(ids), dtype=np.float64)
        reset[np.searchsorted(ids, start)] = 1.0
        pr = reset.copy()
        for _ in range(max_iterations):
            contrib = np.zeros(len(ids), dtype=np.float64)
            np.add.at(contrib, d_idx, (pr[s_idx] * w) / share_deg)
            pr = (1.0 - alpha) * reset + alpha * contrib
        mask = pr > 0.0
        out_id.append(ids[mask])
        out_src.append(np.full(int(mask.sum()), start, dtype=np.int64))
        out_pr.append(pr[mask])
    return {
        ID: np.concatenate(out_id),
        "source": np.concatenate(out_src),
        PAGERANK: np.concatenate(out_pr),
    }


class PageRank:
    def __init__(
        self,
        alpha: float = 0.85,
        max_iterations: int = 10,
        tolerance: float | None = None,
        sources: list[int] | None = None,
        weight_col: str | None = None,
        batch_finish: int = 1_000_000,
    ):
        """``sources``: personalize — the (1-α) reset mass lands uniformly
        on these vertex ids instead of everywhere (random walk with restart
        to the source set). None = classic PageRank.

        ``weight_col``: edge-weighted variant — a vertex's rank splits over
        its out-edges proportionally to the edge weight (transition
        probability w / Σw) instead of uniformly. Same plan shape: the
        degree table becomes a weight-sum table, everything else is
        unchanged.

        ``batch_finish``: vertices + edges at or below this many rows run
        in the driver (module note); 0 disables."""
        self.alpha = alpha
        self.max_iterations = max_iterations
        self.tolerance = tolerance
        self.sources = sources
        self.weight_col = weight_col
        self.batch_finish = batch_finish

    def _run_batch(self, g: Graph):
        """The driver finish, or None when the input is above the bound or
        the kernel defers."""
        import numpy as np
        import pyarrow as pa

        edges = _edge_frame(g, self.weight_col)
        verts = g.vertices.select(ID)
        if not (
            self.batch_finish and edges is not None and int_columns(verts, ID)
        ):
            return None
        t = fetch_bounded_all(self.batch_finish, edges, verts)
        if t is None:
            return None
        e, v = t
        # the bound counts the symmetric edge rows the kernel iterates on
        if (1 if g.directed else 2) * e.num_rows + v.num_rows > self.batch_finish:
            return None
        e = _edge_arrays(g, e)
        v = arrays(v, **{ID: np.int64})
        if e is None or v is None:
            return None
        ids = v[ID]
        reset = np.ones(len(ids)) if self.sources is None else np.isin(
            ids, np.array([int(s) for s in self.sources], dtype=np.int64)
        ).astype(np.float64)
        out = _pagerank_kernel(
            ids, reset, *e, self.alpha, self.max_iterations, self.tolerance
        )
        if out is None:
            return None
        return verts.sparkSession.createDataFrame(
            pa.table({ID: out[0], PAGERANK: out[1]})
        )

    def run(self, g: Graph) -> DataFrame:
        """Returns ``(id, pagerank)`` for every vertex."""
        out = self._run_batch(g)
        if out is not None:
            return out
        w = (
            F.col(self.weight_col).cast("double")
            if self.weight_col
            else F.lit(1.0)
        )
        if self.sources is None:
            reset = F.lit(1.0)
        else:
            src_set = F.array(*[F.lit(int(s)) for s in self.sources])
            reset = F.when(
                F.array_contains(src_set, F.col(ID)), F.lit(1.0)
            ).otherwise(F.lit(0.0))
        edges = g.symmetric_edges.select(SRC, DST, w.alias("__w"))
        edges = edges.localCheckpoint()
        # the out-weight sum over ALL edge sources rides the state
        deg = edges.groupBy(F.col(SRC).alias(ID)).agg(
            F.sum("__w").alias("__deg")
        )
        state, m = checkpoint_observed(
            g.vertices.select(ID)
            .withColumn("__reset", reset)
            .join(deg, on=ID, how="left")
            .withColumn(PAGERANK, F.col("__reset")),
            __n=F.count(F.lit(1)),
        )
        for _ in range(self.max_iterations):
            ranks = broadcast_if_small(
                state.select(ID, PAGERANK, "__deg"), m["__n"]
            )
            contribs = edges.join(ranks, on=F.col(SRC) == F.col(ID)).select(
                F.col(DST).alias(ID),
                (F.col(PAGERANK) * F.col("__w") / F.col("__deg")).alias("__c"),
            )
            # the state's own rows carry the static columns and the old
            # rank through the aggregate; a destination outside the vertex
            # table has none and drops out, as in a left join from vertices
            state, probe = checkpoint_observed(
                contribs.unionByName(
                    state.select(
                        ID, "__reset", "__deg", F.col(PAGERANK).alias("__old")
                    ),
                    allowMissingColumns=True,
                )
                .groupBy(ID)
                .agg(
                    F.sum("__c").alias("__sum"),
                    *[F.max(c).alias(c) for c in ("__reset", "__deg", "__old")],
                )
                .filter(F.col("__reset").isNotNull())
                .select(
                    ID,
                    "__reset",
                    "__deg",
                    "__old",
                    (
                        F.lit(1.0 - self.alpha) * F.col("__reset")
                        + F.lit(self.alpha) * F.coalesce("__sum", F.lit(0.0))
                    ).alias(PAGERANK),
                ),
                __delta=F.sum(F.abs(F.col(PAGERANK) - F.col("__old"))),
            )
            delta = probe["__delta"]
            if self.tolerance is not None and delta is not None:
                if delta < self.tolerance:
                    break
        return state.select(ID, PAGERANK)


def parallel_personalized_pagerank(
    g: Graph,
    sources: list[int],
    alpha: float = 0.85,
    max_iterations: int = 10,
    weight_col: str | None = None,
    batch_finish: int = 1_000_000,
) -> DataFrame:
    """Personalized PageRank from EVERY source at once — the reference
    README's one unsupported-matrix row with no counterpart here until
    round 9 (reference README.md:30, ParallelPersonalizedPageRank ❌).

    One independent random-walk-with-restart per source s:

        pr_0(v|s)     = [v == s]
        pr_{k+1}(v|s) = (1-α)·[v == s] + α · Σ_{(u,v)∈E} pr_k(u|s)·w/Σw(u)

    State is a SPARSE long table ``(id, source, rank)`` — a row exists iff
    the walk can have reached ``id`` from ``source`` (all terms positive),
    so early iterations carry |sources|·|k-hop ball| rows, not V·|sources|.
    Per iteration: one contribution join keyed on the vertex id (the static
    edge side is checkpointed once) and one union+groupBy that folds the
    (1-α) restart rows in — no outer join, no per-source loop, no
    map-state blowup. At 100 TB this batches any number of sources
    through one per-iteration plan.

    Returns ``(id, source, pagerank)`` with only positive-mass rows.
    """
    if not sources:
        raise ValueError("sources must be non-empty")
    import pyarrow as pa

    spark = g.edges.sparkSession
    starts = [int(s) for s in dict.fromkeys(sources)]
    # bounded-batch finish (module note); the sources count toward the bound
    edges, e = _edge_frame(g, weight_col), None
    if edges is not None and batch_finish >= len(sources):
        bound = batch_finish - len(sources)
        e = fetch_bounded(edges, bound if g.directed else bound // 2)
        e = None if e is None else _edge_arrays(g, e)
    out = None if e is None else _ppr_multi_kernel(starts, *e, alpha, max_iterations)
    if out is not None:
        return spark.createDataFrame(pa.table(out))
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    edges = g.symmetric_edges.select(SRC, DST, w.alias("__w")).localCheckpoint()
    restart = spark.createDataFrame(
        [(s, s) for s in starts], f"{ID} long, source long"
    ).localCheckpoint()
    deg = edges.groupBy(SRC).agg(F.sum("__w").alias("__deg")).localCheckpoint()
    ranks = restart.withColumn(PAGERANK, F.lit(1.0)).localCheckpoint()
    for _ in range(max_iterations):
        # alpha is applied ONCE after the aggregate — pr_{k+1} =
        # (1-α)·reset + α·Σ(pr·w/d) — the same arithmetic order as the
        # unrolled SQL oracle (0.15*reset + 0.85*SUM(pr/d)), so agreement
        # is by replayed arithmetic, not rounding slack (r9 ADVICE #3).
        # Restart rows ride the same union with a flag instead of a
        # pre-scaled mass so neither term is folded into the sum.
        contribs = (
            edges.join(deg, on=SRC)
            .join(ranks, on=F.col(SRC) == F.col(ID))
            .select(
                F.col(DST).alias(ID),
                "source",
                (F.col(PAGERANK) * F.col("__w") / F.col("__deg")).alias("__c"),
                F.lit(0.0).alias("__reset"),
            )
        )
        ranks = (
            contribs.unionByName(
                restart.select(
                    ID,
                    "source",
                    F.lit(0.0).alias("__c"),
                    F.lit(1.0).alias("__reset"),
                )
            )
            .groupBy(ID, "source")
            .agg(
                F.sum("__c").alias("__sc"),
                F.sum("__reset").alias("__sr"),
            )
            .select(
                ID,
                "source",
                (
                    F.lit(1.0 - alpha) * F.col("__sr")
                    + F.lit(alpha) * F.col("__sc")
                ).alias(PAGERANK),
            )
            .localCheckpoint()
        )
    return ranks
