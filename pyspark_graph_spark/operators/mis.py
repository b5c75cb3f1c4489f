"""Maximal independent set — Luby's algorithm with deterministic priorities.

Each round every undecided vertex draws a priority (``xxhash64(id, round)``
— deterministic, so runs are reproducible); a vertex joins the set if its
priority beats every undecided neighbor's, then it and its neighbors leave
the game. Expected O(log n) rounds (Luby 1986).

Per round: one priority projection (no shuffle), one neighbor-max
aggregation (one shuffle), two anti-joins on checkpointed frames. The
result is an *independent* set (no two members adjacent) that is *maximal*
(every non-member has a member neighbor) — both invariants are
property-tested.

MIS is the standard building block for distributed coloring/scheduling and
a good stress of the peel-and-repeat pattern at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.util import (
    checkpoint_observed,
    driver_finish,
    positions,
)


class MaximalIndependentSet:
    def __init__(
        self,
        max_iterations: int = 50,
        seed: int = 0,
        batch_finish: int = 1_000_000,
        edges_symmetric: bool = False,
    ):
        self.max_iterations = max_iterations
        self.seed = seed
        # caller guarantees g.edges is ALREADY symmetric, self-loop-free
        # and distinct (e.g. greedy_coloring's maintained residual list):
        # skips the per-run symmetrize + distinct + checkpoint. The edge
        # SET is identical, so the result is bit-identical; this only
        # removes redundant jobs from per-round callers.
        self.edges_symmetric = edges_symmetric
        # once BOTH the undecided vertex list and the residual edge list
        # fit this bound, the remaining Luby rounds run in the driver on
        # one Arrow fetch of both (_batch_rounds) — BIT-IDENTICAL to the
        # distributed continuation because the kernel computes the same
        # xxhash64(id, seed, round) priorities and applies the same
        # strict-majority rule per round. The peel's tail rounds each
        # decide a handful of vertices yet cost several fixed-overhead
        # jobs. 0 disables the batch finish. 1M rows is ~16 MB of
        # (src, dst) columns fetched; dense graphs (where Luby finishes
        # in O(1) rounds anyway) skip the distributed peel entirely below
        # the bound, sparse billion-edge graphs still take the
        # distributed path.
        self.batch_finish = batch_finish

    # the driver finishes charge the round budget in whole blocks of this
    # many rounds (_batch_rounds, _batch_color), so max_iterations binds
    # the batch as it binds the distributed loop up to one block
    _LOCAL_ROUNDS = 32

    def run(self, g: Graph) -> DataFrame:
        """Vertex ids of the set (single ``id`` column)."""
        # independence is an undirected property: symmetrize regardless of
        # the graph's directed flag (symmetric_edges is a no-op for directed
        # graphs by design)
        base = g.edges.select(SRC, DST)
        if self.edges_symmetric:
            sym = base
        else:
            sym = (
                base.unionByName(
                    base.select(
                        F.col(DST).alias(SRC), F.col(SRC).alias(DST)
                    )
                )
                .filter(F.col(SRC) != F.col(DST))
                .distinct()
                .localCheckpoint()
            )
        # size probes ride the materializing checkpoints (round 12,
        # checkpoint_observed): the loop paid an undecided count, an edge
        # count, and emptiness probes per round on frames it had just
        # materialized
        undecided, mu = checkpoint_observed(
            g.vertices.select(ID), __n=F.count(F.lit(1))
        )
        n_und = mu["__n"] or 0
        edges = sym
        n_edges = None  # unknown until a round observes it
        spark = undecided.sparkSession
        chosen = spark.createDataFrame([], f"{ID} long")

        rnd = 0
        while rnd < self.max_iterations:
            if n_und == 0:
                break
            if n_und <= self.batch_finish and (
                n_edges is None or n_edges <= self.batch_finish
            ):
                res = self._batch_rounds(undecided, edges, rnd)
                if res is not None:
                    return chosen.unionByName(res)
            pri = undecided.withColumn(
                "__p", F.xxhash64(F.col(ID), F.lit(self.seed), F.lit(rnd))
            )
            nbr_max = (
                edges.join(
                    pri.withColumnsRenamed({ID: DST, "__p": "__np"}), on=DST
                )
                .groupBy(SRC)
                .agg(F.max("__np").alias("__maxn"))
                .withColumnRenamed(SRC, ID)
            )
            winners = (
                pri.join(nbr_max, on=ID, how="left")
                .filter(
                    F.col("__maxn").isNull() | (F.col("__p") > F.col("__maxn"))
                )
                .select(ID)
                .localCheckpoint()
            )
            chosen = chosen.unionByName(winners).localCheckpoint()
            # winners and their neighbors leave the game
            removed = winners.unionByName(
                edges.join(winners.withColumnRenamed(ID, SRC), on=SRC, how="semi")
                .select(F.col(DST).alias(ID))
            ).distinct()
            undecided, mu = checkpoint_observed(
                undecided.join(removed, on=ID, how="anti"),
                __n=F.count(F.lit(1)),
            )
            n_und = mu["__n"] or 0
            edges, me = checkpoint_observed(
                edges.join(
                    undecided.withColumnRenamed(ID, SRC), on=SRC, how="semi"
                )
                .join(undecided.withColumnRenamed(ID, DST), on=DST, how="semi")
                .select(SRC, DST),
                __n=F.count(F.lit(1)),
            )
            n_edges = me["__n"] or 0
            rnd += 1
        # Mirror MaximalMatching's contract: returning with undecided
        # vertices would silently yield a non-maximal set (round-5 ADVICE).
        # The batch finish charges _LOCAL_ROUNDS against the budget, so a
        # leftover-heavy batch can overshoot max_iterations — fail loudly
        # rather than hand back a set that violates the documented
        # maximality invariant.
        if n_und != 0:
            raise ValueError(self._undecided())
        return chosen

    def _undecided(self) -> str:
        return (
            "MaximalIndependentSet did not decide every vertex within "
            f"max_iterations={self.max_iterations}; Luby rounds are "
            "O(log n) w.h.p. — raise the budget for adversarial graphs"
        )

    def _batch_rounds(
        self, undecided: DataFrame, edges: DataFrame, rnd: int
    ) -> DataFrame | None:
        """The remaining Luby rounds in the driver (``util.driver_finish``)
        once the undecided vertices and the residual edges each fit
        ``batch_finish`` rows: the chosen ids, or None above the bound or
        when an edge endpoint is not an undecided vertex. Priorities are
        the SAME values the distributed rounds use — xxhash64(id, seed,
        round) — computed by the NumPy replica of Spark's xxhash64
        (functions/xxh64_np.py, pinned bit-for-bit by
        tests/test_xxh64_np.py), so the result is bit-identical to
        continuing the loop. The budget is charged in whole
        ``_LOCAL_ROUNDS`` blocks, as ``_batch_color`` charges it; vertices
        still undecided after it raise the loop's ValueError."""
        bound = self.batch_finish
        blocks = -(-(self.max_iterations - rnd) // self._LOCAL_ROUNDS)
        n_rounds = blocks * self._LOCAL_ROUNDS
        seed = self.seed

        def local_luby(vp, ep):
            import numpy as np
            import pandas as pd

            from pyspark_graph_spark.functions.xxh64_np import (
                xxhash64_long_int_int,
            )

            if len(vp) > bound or len(ep) > bound:
                return None
            ids = np.sort(vp[ID].to_numpy(dtype=np.int64))
            n = len(ids)
            s, s_ok = positions(ids, ep[SRC].to_numpy(dtype=np.int64))
            d, d_ok = positions(ids, ep[DST].to_numpy(dtype=np.int64))
            if not (s_ok.all() and d_ok.all()):
                return None
            alive = np.ones(n, dtype=bool)
            chosen = np.zeros(n, dtype=bool)
            for j in range(n_rounds):
                if not alive.any():
                    break
                live = alive[s] & alive[d]
                ls, ld = s[live], d[live]
                p = xxhash64_long_int_int(ids, seed, rnd + j)
                # max undecided-neighbor priority; isolated vertices win
                nbr = np.full(n, np.iinfo(np.int64).min, dtype=np.int64)
                np.maximum.at(nbr, ls, p[ld])
                win = alive & (p > nbr)
                if not win.any():
                    continue  # all-tie round: same as the distributed rule
                chosen |= win
                dead = win.copy()
                # neighbors of winners leave the game too
                wd = win[ld]
                dead[ls[wd]] = True
                wl = win[ls]
                dead[ld[wl]] = True
                alive &= ~dead
                keep = alive[s] & alive[d]
                s, d = s[keep], d[keep]
            if alive.any():
                raise ValueError(self._undecided())
            return pd.DataFrame({ID: ids[chosen]})

        # each list is bounded on its own: the kernel checks the split
        return driver_finish(
            2 * bound,
            local_luby,
            f"{ID} long",
            undecided.select(ID),
            edges.select(SRC, DST),
        )


def _batch_color(
    remaining_v: DataFrame,
    remaining_e: DataFrame,
    first_color: int,
    max_colors: int,
    mis_budget: int,
    local_rounds: int,
    bound: int,
) -> DataFrame | None:
    """Finish the WHOLE Luby-MIS coloring in the driver once the
    remaining vertex and edge lists each fit ``bound`` rows
    (``util.driver_finish``; None above it, or when an edge endpoint is
    not a remaining vertex): for each color c the kernel replays exactly
    the rounds the per-color ``MaximalIndependentSet(seed=c)`` run would
    execute —
    same xxhash64(id, c, round) priorities (NumPy replica, pinned
    bit-for-bit by tests/test_xxh64_np.py), same strict-majority win
    rule, same all-tie-continue, same round budget — so the coloring is
    bit-identical to the per-color distributed loop while the per-color
    fixed-overhead jobs (MIS batch + 4 bookkeeping checkpoints, ~7 jobs
    × n_colors) collapse into one fetch. Returns (id, color) for every
    input vertex. A color whose MIS leaves vertices undecided within its
    budget raises ValueError (MaximalIndependentSet's loud contract);
    vertices left uncolored after max_colors raise the loop's
    RuntimeError."""
    # budget bookkeeping copied from MaximalIndependentSet.run: each
    # batch call charges _LOCAL_ROUNDS, and the loop re-enters while
    # rnd < max_iterations — so a color may run ceil(budget/rounds)
    # batches of local_rounds rounds each
    n_batches = -(-mis_budget // local_rounds)  # ceil
    rounds_per_color = n_batches * local_rounds

    def local_color(vp, ep):
        import numpy as np
        import pandas as pd

        from pyspark_graph_spark.functions.xxh64_np import (
            xxhash64_long_int_int,
        )

        if len(vp) > bound or len(ep) > bound:
            return None
        ids = np.sort(vp[ID].to_numpy(dtype=np.int64))
        n = len(ids)
        s, s_ok = positions(ids, ep[SRC].to_numpy(dtype=np.int64))
        d, d_ok = positions(ids, ep[DST].to_numpy(dtype=np.int64))
        if not (s_ok.all() and d_ok.all()):
            return None
        color = np.full(n, -1, dtype=np.int32)
        uncolored = np.ones(n, dtype=bool)
        for c in range(first_color, max_colors):
            if not uncolored.any():
                break
            alive = uncolored.copy()
            chosen = np.zeros(n, dtype=bool)
            cs, cd = s, d
            for j in range(rounds_per_color):
                if not alive.any():
                    break
                live = alive[cs] & alive[cd]
                ls, ld = cs[live], cd[live]
                p = xxhash64_long_int_int(ids, c, j)
                nbr = np.full(n, np.iinfo(np.int64).min, dtype=np.int64)
                np.maximum.at(nbr, ls, p[ld])
                win = alive & (p > nbr)
                if not win.any():
                    continue
                chosen |= win
                dead = win.copy()
                wd = win[ld]
                dead[ls[wd]] = True
                wl = win[ls]
                dead[ld[wl]] = True
                alive &= ~dead
                keep = alive[cs] & alive[cd]
                cs, cd = cs[keep], cd[keep]
            if alive.any():
                # MIS budget exhausted mid-color: loud, like the
                # distributed MaximalIndependentSet contract
                raise ValueError(
                    "MaximalIndependentSet did not decide every vertex "
                    "within its round budget during batched coloring; "
                    "Luby rounds are O(log n) w.h.p. — raise the budget "
                    "for adversarial graphs"
                )
            color[chosen] = c
            uncolored &= ~chosen
            # next color's subgraph: only still-uncolored vertices
            keep = uncolored[s] & uncolored[d]
            s, d = s[keep], d[keep]
        if uncolored.any():
            raise RuntimeError(f"graph not colored within {max_colors} colors")
        return pd.DataFrame({ID: ids, "color": color})

    # each list is bounded on its own: the kernel checks the split
    return driver_finish(
        2 * bound,
        local_color,
        f"{ID} long, color int",
        remaining_v.select(ID),
        remaining_e.select(SRC, DST),
    )


def greedy_coloring(
    g: Graph, max_colors: int = 64, batch_finish: int = 1_000_000
) -> DataFrame:
    """(id, color) proper coloring: repeatedly take an MIS of the remaining
    subgraph and give it the next color (Luby-MIS coloring — expected
    O(log n) rounds per color, colors ≤ degeneracy-ish in practice).

    Proper by construction: each color class is an independent set.

    Once the remaining vertex AND edge lists each fit ``batch_finish``
    rows (the MIS operator's bounded-batch class — ~16 MB of id/edge
    columns), the rest of the coloring runs in the driver on one Arrow
    fetch, BIT-IDENTICAL to the per-color loop because the kernel
    consumes the same xxhash64 priorities and round budgets
    (``_batch_color``). The per-color distributed peel remains the path
    for graphs above the bound; 0 disables the batch."""
    remaining_v = g.vertices.select(ID).localCheckpoint()
    base = g.edges.select(SRC, DST)
    remaining_e = (
        base.unionByName(
            base.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
        )
        .filter(F.col(SRC) != F.col(DST))
        .distinct()
        .localCheckpoint()
    )
    spark = remaining_v.sparkSession
    parts: list[DataFrame] = []
    color = 0
    while color < max_colors:
        colored = _batch_color(
            remaining_v,
            remaining_e,
            first_color=color,
            max_colors=max_colors,
            mis_budget=MaximalIndependentSet().max_iterations,
            local_rounds=MaximalIndependentSet._LOCAL_ROUNDS,
            bound=batch_finish,
        )
        if colored is not None:
            parts.append(colored)
            break  # the batch colors every remaining vertex
        if remaining_v.isEmpty():
            break
        sub = Graph(remaining_v, remaining_e, directed=True, indexed=True)
        # remaining_e is maintained symmetric/distinct/checkpointed by
        # this loop — skip MIS's per-run re-symmetrization jobs
        mis = (
            MaximalIndependentSet(seed=color, edges_symmetric=True)
            .run(sub)
            .localCheckpoint()
        )
        parts.append(mis.withColumn("color", F.lit(color)))
        remaining_v = remaining_v.join(mis, on=ID, how="anti").localCheckpoint()
        remaining_e = (
            remaining_e.join(
                remaining_v.withColumnRenamed(ID, SRC), on=SRC, how="semi"
            )
            .join(remaining_v.withColumnRenamed(ID, DST), on=DST, how="semi")
            .localCheckpoint()
        )
        color += 1
    else:
        raise RuntimeError(f"graph not colored within {max_colors} colors")
    result = spark.createDataFrame([], f"{ID} long, color int")
    for p in parts:
        result = result.unionByName(p)
    return result
