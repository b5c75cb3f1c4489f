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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.util import (
    BATCH_ROWS,
    broadcast_if_small,
    checkpoint_observed,
    fetch_arrays,
    local_frame,
    positions,
    round_zero,
)

PAGERANK = "pagerank"

# Bounded-batch finish, the one every bounded-batch operator runs (ulp
# story as in operators/svd.py's module note). While vertices + symmetric
# edges fit batch_finish, the driver fetches both in one limited Arrow
# collect as numpy arrays (util.fetch_arrays): (src, dst), the weight
# only when weighted, and the vertex ids; unit weights and the reset
# vector are built in numpy. The kernel replays the identical double
# algebra in numpy: per edge (pr(src) * w) / deg(src), per vertex
# (1-α)·reset + α·(sum of contributions, 0 when none), the same
# iteration count and the same optional L1-delta early stop. The result
# is a local DataFrame, so a small request costs two Spark jobs in all:
# the fetch, and the Arrow collect that reads the result.
# Inputs the kernel cannot replay exactly (a zero out-weight sum, whose
# distributed division raises under ANSI; nulls) take the distributed
# plan. Above the bound the per-iteration join/aggregate plan is
# unchanged and remains the only 100 TB path.


def _edge_frame(g: Graph, weight_col) -> DataFrame:
    """``(src, dst)`` of ``g.edges``, plus ``__w`` when weighted."""
    w = [F.col(weight_col).cast("double").alias("__w")] if weight_col else []
    return g.edges.select(SRC, DST, *w)


def _edge_arrays(g: Graph, t):
    """``(src, dst, w)`` arrays of ``g.symmetric_edges`` from the fetched
    ``_edge_frame`` arrays ``t``; an unweighted fetch gets the literal
    1.0 weights here. An undirected graph is fetched once and mirrored
    in numpy: the union's rows from one scan of the edge table."""
    import numpy as np

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
    """All-sources personalized PageRank in the driver: the ``(id,
    source, pagerank)`` column arrays, or None when the input must run
    the distributed plan. Per source the recurrence runs dense over the
    edge-endpoint id universe; the emitted row set equals the sparse
    plan's (restart ∪ reachable): every sparse row's value is strictly
    positive — contributions are (positive pr · positive w / positive
    deg) sums — so positive-mass entries ARE the sparse row set.
    Nonpositive weights would break that equivalence; the kernel defers
    them."""
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
    return (
        np.concatenate(out_id),
        np.concatenate(out_src),
        np.concatenate(out_pr),
    )


class PageRank:
    def __init__(
        self,
        alpha: float = 0.85,
        max_iterations: int = 10,
        tolerance: float | None = None,
        sources: list[int] | None = None,
        weight_col: str | None = None,
        batch_finish: int = BATCH_ROWS,
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

        verts = g.vertices.select(ID)
        t = fetch_arrays(
            self.batch_finish, _edge_frame(g, self.weight_col), verts
        )
        if t is None:
            return None
        e, v = t
        ids = v[ID]
        # the bound counts the symmetric edge rows the kernel iterates on
        rows = (1 if g.directed else 2) * len(e[SRC]) + len(ids)
        if rows > self.batch_finish:
            return None
        reset = np.ones(len(ids)) if self.sources is None else np.isin(
            ids, np.array([int(s) for s in self.sources], dtype=np.int64)
        ).astype(np.float64)
        e = _edge_arrays(g, e)
        out = _pagerank_kernel(
            ids, reset, *e, self.alpha, self.max_iterations, self.tolerance
        )
        if out is None:
            return None
        return local_frame(
            verts.sparkSession, f"{ID} long, {PAGERANK} double", *out
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

        def step(state, rows=None):
            ranks = broadcast_if_small(
                state.select(ID, PAGERANK, "__deg"), rows
            )
            contribs = (
                edges.join(ranks, on=F.col(SRC) == F.col(ID))
                .filter(F.col(DST).isNotNull())
                .select(
                    F.col(DST).alias(ID),
                    (F.col(PAGERANK) * F.col("__w") / F.col("__deg")).alias(
                        "__c"
                    ),
                )
            )
            # the state's own rows carry the static columns and the old
            # rank through the aggregate; a destination outside the vertex
            # table has none and drops out, as in a left join from vertices.
            # A null destination joins no vertex either; dropping it also
            # keeps the state's own "id is not null" (when the vertex ids
            # have it) from one iteration to the next, so Spark plans
            # iteration 1, which reads the seed, as it plans the others
            return (
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
                )
            )

        # pr_0 is the reset vector, with no old rank; typed as an
        # iteration's state, so every iteration runs one plan
        seed = (
            g.vertices.select(ID)
            .withColumn("__reset", reset)
            .join(deg, on=ID, how="left")
            .select(
                ID,
                "__reset",
                "__deg",
                F.lit(None).cast("double").alias("__old"),
                F.col("__reset").alias(PAGERANK),
            )
        )
        state, m = checkpoint_observed(
            round_zero(seed, step), __n=F.count(F.lit(1))
        )
        for _ in range(self.max_iterations):
            state, probe = checkpoint_observed(
                step(state, m["__n"]),
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
    batch_finish: int = BATCH_ROWS,
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
    spark = g.edges.sparkSession
    starts = [int(s) for s in dict.fromkeys(sources)]
    # bounded-batch finish (module note); the sources count toward the bound
    bound = max(batch_finish - len(sources), 0)
    e = fetch_arrays(
        bound if g.directed else bound // 2, _edge_frame(g, weight_col)
    )
    out = None if e is None else _ppr_multi_kernel(
        starts, *_edge_arrays(g, e[0]), alpha, max_iterations
    )
    if out is not None:
        return local_frame(
            spark, f"{ID} long, source long, {PAGERANK} double", *out
        )
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    # the static edge side, checkpointed once: each edge row carries its
    # source's out-weight sum, summed over the source's rows. A window has
    # one plan; a join of the edges with their sums lets AQE pick either
    # side to broadcast, call by call
    edges = (
        g.symmetric_edges.select(SRC, DST, w.alias("__w"))
        .withColumn("__deg", F.sum("__w").over(Window.partitionBy(SRC)))
        .localCheckpoint()
    )
    restart = local_frame(
        spark, f"{ID} long, source long", starts, starts
    ).localCheckpoint()

    def step(ranks, rows=None):
        # alpha is applied ONCE after the aggregate — pr_{k+1} =
        # (1-α)·reset + α·Σ(pr·w/d) — the same arithmetic order as the
        # unrolled SQL oracle (0.15*reset + 0.85*SUM(pr/d)), so agreement
        # is by replayed arithmetic, not rounding slack (r9 ADVICE #3).
        # Restart rows ride the same union with a flag instead of a
        # pre-scaled mass so neither term is folded into the sum.
        contribs = (
            edges.join(
                broadcast_if_small(ranks, rows), on=F.col(SRC) == F.col(ID)
            )
            .select(
                F.col(DST).alias(ID),
                "source",
                (F.col(PAGERANK) * F.col("__w") / F.col("__deg")).alias("__c"),
                F.lit(0.0).alias("__reset"),
            )
        )
        return (
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
        )

    # typed as an iteration's ranks, so every iteration runs one plan; the
    # observed row count broadcasts the ranks in every iteration while they
    # fit, where Spark's own estimate would stop doing so after a few
    ranks, m = checkpoint_observed(
        round_zero(restart.withColumn(PAGERANK, F.lit(1.0)), step),
        n=F.count(F.lit(1)),
    )
    for _ in range(max_iterations):
        ranks, m = checkpoint_observed(
            step(ranks, m["n"]), n=F.count(F.lit(1))
        )
    return ranks
