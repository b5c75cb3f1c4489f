"""Louvain modularity community detection and the modularity metric.

Not in the reference (aktungmak/pyspark-graph ships LabelPropagation only,
label_propagation.py:11-35); Louvain is the standard modularity-maximizing
community detector and is implemented Spark-first as synchronous local
moving (Blondel et al. 2008, "Fast unfolding of communities in large
networks", adapted to BSP like Sotera's distributed Louvain):

- Every vertex starts in its own community.
- Each round, every vertex evaluates the modularity gain of adopting each
  neighboring community and moves to the best one. The pairwise gain
  comparison needs only ``2m*k(v,c) - deg(v)*(tot(c) - [c = c(v)]*deg(v))``
  (the shared terms of the Blondel ΔQ cancel across candidates), which is
  **exact integer arithmetic** for unit/integer weights — no float
  tie-break ambiguity, so the result is deterministic and oracle-checkable.
- Simultaneous moves of adjacent vertices can oscillate (two vertices swap
  communities forever). Standard BSP mitigation: per round only vertices of
  one id-parity may move (even ids on even rounds, odd on odd), which
  breaks every 2-cycle deterministically without a random generator.
- Ties prefer (higher score, staying put, smallest community id) — fully
  deterministic.
- Optional multi-level: after local moving converges, communities are
  contracted into supervertices (intra-community weight becomes a
  self-loop) and local moving repeats on the coarse graph; the final
  assignment is the composition. Community labels are canonicalized to the
  minimum member vertex id.

Scale notes (100 TB): each round is three hash-shuffles on bounded keys —
messages grouped by (vertex, neighbor community), community totals grouped
by community, and the move join on vertex id. No all-pairs products, no
driver-side state; ``2m`` rides along as a broadcast single-row aggregate
(BroadcastNestedLoopJoin of ONE row, not a collect). Per-round
``localCheckpoint`` caps lineage exactly like Pregel (pregel.py:200).
Coarsening shrinks the edge set geometrically, so later levels are cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.util import (
    checkpoint_observed,
    driver_finish,
    int_columns,
    positions,
)

COMMUNITY = "community"


def canonical_undirected(edges: DataFrame, weight_col: str | None = None) -> DataFrame:
    """Collapse an edge list to canonical undirected weighted form:
    one row per unordered pair ``(a <= b)`` with summed weight (parallel
    and reversed duplicates merge; self-loops stay as ``a = b`` rows)."""
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    return (
        edges.select(
            F.least(SRC, DST).alias("a"),
            F.greatest(SRC, DST).alias("b"),
            w.alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )


def _weighted_degrees(und: DataFrame) -> DataFrame:
    """Per-vertex sum of incident weights; a self-loop counts twice
    (standard convention: it contributes 2w to its endpoint's degree)."""
    ends = und.select(
        F.col("a").alias("v"),
        F.when(F.col("a") == F.col("b"), 2 * F.col("w")).otherwise(F.col("w")).alias("w"),
    ).unionByName(
        und.filter(F.col("a") != F.col("b")).select(
            F.col("b").alias("v"), F.col("w")
        )
    )
    return ends.groupBy("v").agg(F.sum("w").alias("deg"))


def modularity(
    g: Graph,
    assignment: DataFrame,
    community_col: str = COMMUNITY,
    weight_col: str | None = None,
) -> DataFrame:
    """Newman modularity Q of a vertex partition, as a 1-row DataFrame
    ``(modularity: double)``.

    Q = sum_c ( e_c/m  -  (deg_c / 2m)^2 ) with m = total edge weight
    (self-loops once), e_c = intra-community weight, deg_c = summed member
    degrees. Computed as ONE exact integer fraction
    ``(4m * sum(e_c) - sum(deg_c^2)) / (4m^2)`` and divided once at the
    end, so the double result is the correctly-rounded quotient of exact
    integers — bit-identical across engines (unit/integer weights). At
    data scales where 4m^2 would overflow int64, pass weights pre-scaled
    down or switch the two sums to DOUBLE; the formula is unchanged.

    The whole computation is lazy: three aggregates stitched by joins plus
    a single-row broadcast, no driver actions.
    """
    und = canonical_undirected(g.edges, weight_col)
    asg = assignment.select(
        F.col(ID).alias("v"), F.col(community_col).alias("c")
    )
    deg_c = (
        _weighted_degrees(und)
        .join(asg, on="v")
        .groupBy("c")
        .agg(F.sum("deg").alias("deg_c"))
    )
    intra = (
        und.join(asg.select(F.col("v").alias("a"), F.col("c").alias("ca")), on="a")
        .join(asg.select(F.col("v").alias("b"), F.col("c").alias("cb")), on="b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.sum("w").alias("e_c"))
    )
    per_c = deg_c.join(intra, on="c", how="left").na.fill({"e_c": 0})
    sums = per_c.agg(
        F.sum("e_c").alias("sum_e"),
        F.sum(F.col("deg_c") * F.col("deg_c")).alias("sum_d2"),
    )
    m_row = und.agg(F.sum("w").alias("m"))
    return sums.crossJoin(F.broadcast(m_row)).select(
        (
            (4 * F.col("m") * F.col("sum_e") - F.col("sum_d2")).cast("double")
            / (4 * F.col("m") * F.col("m")).cast("double")
        ).alias("modularity")
    )


def _batch_louvain_moving(fixed_rounds, max_rounds):
    """Single-level synchronous local moving in the driver
    (``util.driver_finish``): the move scores are EXACT INTEGER
    arithmetic (module docstring), the tie-break is the same
    (score, stay-put, smallest community) struct order, and the
    id-parity move gate replays per round — so batch == distributed
    bit for bit, including early convergence when probing. Emits the
    final (id, community) labeling (community = min member id)."""

    def kern(v_pdf, e_pdf):
        import numpy as np
        import pandas as pd

        if e_pdf.isna().any(axis=None) or v_pdf.isna().any(axis=None):
            return None
        ids = np.sort(v_pdf["v"].to_numpy(dtype=np.int64))
        # canonical_undirected over the raw edges: one (a <= b) row per
        # unordered pair, weights summed, ordered by (a, b)
        s = e_pdf[SRC].to_numpy(dtype=np.int64)
        d = e_pdf[DST].to_numpy(dtype=np.int64)
        w0 = e_pdf["w"].to_numpy(dtype=np.int64)
        if np.abs(w0.astype(np.float64)).sum() > 2**61:
            return None  # the summed weights could wrap
        pairs, inv = np.unique(
            np.stack([np.minimum(s, d), np.maximum(s, d)], axis=1),
            axis=0,
            return_inverse=True,
        )
        a, b = pairs[:, 0].copy(), pairs[:, 1].copy()
        w = np.zeros(len(pairs), dtype=np.int64)
        np.add.at(w, inv.reshape(-1), w0)
        n = len(ids)
        a_idx, a_ok = positions(ids, a)
        b_idx, b_ok = positions(ids, b)
        if not (a_ok.all() and b_ok.all()):
            # an endpoint outside the vertex table: the distributed joins
            # drop it from some sums and not others
            return None
        # weighted degrees: self-loops count twice
        deg = np.zeros(n, dtype=np.int64)
        selfloop = a == b
        np.add.at(deg, a_idx[selfloop], 2 * w[selfloop])
        np.add.at(deg, a_idx[~selfloop], w[~selfloop])
        np.add.at(deg, b_idx[~selfloop], w[~selfloop])
        m2 = int(deg.sum())
        # symmetric neighbor rows (self-loops excluded, as _local_moving)
        u_idx = np.concatenate([a_idx[~selfloop], b_idx[~selfloop]])
        n_idx = np.concatenate([b_idx[~selfloop], a_idx[~selfloop]])
        uw = np.concatenate([w[~selfloop], w[~selfloop]])
        asg = np.arange(n, dtype=np.int64)  # community SLOT per vertex
        comm_of = ids.copy()  # community label = seed vertex id
        rounds = fixed_rounds if fixed_rounds is not None else max_rounds
        parity = np.mod(np.abs(ids), 2)
        for r in range(rounds):
            tot = np.zeros(n, dtype=np.int64)
            np.add.at(tot, asg, deg)
            # k(u, nc): sum of w to each neighbor community
            nc = asg[n_idx]
            key = u_idx.astype(np.int64) * n + nc
            ukey, inv = np.unique(key, return_inverse=True)
            k = np.zeros(len(ukey), dtype=np.int64)
            np.add.at(k, inv, uw)
            ku = (ukey // n).astype(np.int64)
            knc = (ukey % n).astype(np.int64)
            # candidate set = neighbor communities ∪ own (k=0), max-k dedup
            own_key = np.arange(n, dtype=np.int64) * n + asg
            extra = np.setdiff1d(own_key, ukey)
            allkey = np.concatenate([ukey, extra])
            allk = np.concatenate(
                [k, np.zeros(len(extra), dtype=np.int64)]
            )
            korder = np.argsort(allkey, kind="stable")
            allkey, allk = allkey[korder], allk[korder]
            cu = (allkey // n).astype(np.int64)
            cnc = (allkey % n).astype(np.int64)
            du = deg[cu]
            ctot = tot[cnc]
            stay = cnc == asg[cu]
            # int64 would WRAP silently where the distributed plan's
            # ANSI longs error loudly — defer anywhere near the edge
            # (conservative magnitude bound; gate graphs sit ~12 orders
            # of magnitude below it)
            kmax = int(allk.max()) if len(allk) else 0
            if (
                m2 * max(kmax, 1) > 2**61
                or int(deg.max(initial=0)) * max(int(tot.max(initial=0)), 1)
                > 2**61
            ):
                return None
            score = m2 * allk - du * (ctot - np.where(stay, du, 0))
            # argmax per u by (score, stay, smaller community label);
            # community order is by LABEL (= ids[slot], monotone in slot)
            sorder = np.lexsort(
                (cnc, ~stay, -score, cu)
            )  # within u: score desc, stay first, smallest nc
            su = cu[sorder]
            first = np.ones(len(su), dtype=bool)
            first[1:] = su[1:] != su[:-1]
            best_u = su[first]
            best_c = cnc[sorder][first]
            best = asg.copy()
            best[best_u] = best_c
            move = parity == (r % 2)
            new_asg = np.where(move, best, asg)
            if fixed_rounds is None and np.array_equal(new_asg, asg):
                # the distributed probe breaks after ANY no-move round,
                # even though the other parity might move next — replay
                # the same stop
                asg = new_asg
                break
            asg = new_asg
        # canonical labels: minimum member vertex id
        lab = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(lab, asg, ids)
        return pd.DataFrame({ID: ids, COMMUNITY: lab[asg]})

    return kern


class Louvain:
    """Louvain community detection; returns ``(id, community)`` with the
    community labeled by its minimum member vertex id.

    ``fixed_rounds`` runs exactly that many local-moving rounds per level
    with no convergence probe (zero driver actions — the mode the oracle
    gate unrolls in SQL); otherwise rounds stop early when no vertex moves
    (one small count action per round, standard fixpoint probing).

    ``batch_finish``: single-level (levels=1) runs whose edge list +
    vertex set fit the bound come back in one Arrow fetch and run in the
    driver (_batch_louvain_moving); multi-level runs and larger graphs
    keep the per-round distributed plan. 0 disables.
    """

    def __init__(
        self,
        max_rounds: int = 10,
        levels: int = 1,
        weight_col: str | None = None,
        fixed_rounds: int | None = None,
        batch_finish: int = 1_000_000,
    ):
        if levels < 1:
            raise ValueError("levels must be >= 1")
        self.max_rounds = max_rounds
        self.levels = levels
        self.weight_col = weight_col
        self.fixed_rounds = fixed_rounds
        self.batch_finish = batch_finish

    # -- one synchronous local-moving round ---------------------------------
    def _move_round(
        self,
        sym: DataFrame,
        deg: DataFrame,
        asg: DataFrame,
        two_m: DataFrame,
        round_no: int,
    ) -> DataFrame:
        tot = (
            asg.join(deg, on="v")
            .groupBy("c")
            .agg(F.sum("deg").alias("tot"))
        )
        # weight from each vertex to each neighboring community
        k = (
            sym.join(
                asg.select(F.col("v").alias("n"), F.col("c").alias("nc")),
                on="n",
            )
            .groupBy("u", "nc")
            .agg(F.sum("w").alias("k"))
        )
        # candidate set = neighbor communities plus own (k=0 when absent)
        cand = (
            k.unionByName(
                asg.select(
                    F.col("v").alias("u"),
                    F.col("c").alias("nc"),
                    F.lit(0).cast("long").alias("k"),
                )
            )
            .groupBy("u", "nc")
            .agg(F.max("k").alias("k"))
        )
        own = asg.select(F.col("v").alias("u"), F.col("c").alias("own"))
        du = deg.select(F.col("v").alias("u"), F.col("deg").alias("du"))
        scored = (
            cand.join(own, on="u")
            .join(du, on="u")
            .join(tot.select(F.col("c").alias("nc"), "tot"), on="nc")
            .crossJoin(F.broadcast(two_m))
            .select(
                "u",
                "nc",
                "own",
                (
                    F.col("m2") * F.col("k")
                    - F.col("du")
                    * (
                        F.col("tot")
                        - F.when(F.col("nc") == F.col("own"), F.col("du")).otherwise(
                            F.lit(0)
                        )
                    )
                ).alias("score"),
            )
        )
        best = scored.groupBy("u").agg(
            F.max_by(
                F.col("nc"),
                F.struct(
                    F.col("score"),
                    (F.col("nc") == F.col("own")).cast("int"),
                    F.negative(F.col("nc")),
                ),
            ).alias("best"),
            F.first(F.col("own")).alias("own"),
        )
        # id-parity gate: even ids move on even rounds, odd on odd.
        # __moved rides along so the convergence probe counts a flag on
        # the checkpointed frame instead of re-joining against the
        # previous assignment (r11: one join+shuffle per probed round
        # removed; fixed_rounds callers drop the column unexecuted)
        new_c = F.when(
            F.pmod(F.abs(F.col("u")), F.lit(2)) == F.lit(round_no % 2),
            F.col("best"),
        ).otherwise(F.col("own"))
        return best.select(
            F.col("u").alias("v"),
            new_c.alias("c"),
            (new_c != F.col("own")).alias("__moved"),
        )

    def _local_moving(
        self, und: DataFrame, vertices: DataFrame | None = None
    ) -> DataFrame:
        """Run rounds on one level; returns assignment (v, c). ``vertices``
        (a 1-column ``v`` frame) seeds the assignment so isolated vertices
        keep a singleton community; None derives the set from the edges
        (coarsened levels, where every vertex has an edge by construction).
        """
        # materialize the symmetric edge list once: it feeds the k-join of
        # EVERY round, and leaving it lazy re-runs the upstream edge
        # construction (e.g. the co-occurrence self-join) per round
        sym = (
            und.filter(F.col("a") != F.col("b"))
            .select(F.col("a").alias("u"), F.col("b").alias("n"), "w")
            .unionByName(
                und.filter(F.col("a") != F.col("b")).select(
                    F.col("b").alias("u"), F.col("a").alias("n"), "w"
                )
            )
            .localCheckpoint()
        )
        deg = _weighted_degrees(und)
        if vertices is not None:
            deg = vertices.join(deg, on="v", how="left").na.fill({"deg": 0})
        deg = deg.localCheckpoint()
        two_m = deg.agg(F.sum("deg").alias("m2"))
        asg = deg.select("v", F.col("v").alias("c")).localCheckpoint()
        rounds = self.fixed_rounds or self.max_rounds
        for r in range(rounds):
            if self.fixed_rounds is None:
                # moved-count probe rides the checkpoint job itself
                # (round 12, checkpoint_observed) — r11 had already
                # removed the probe's join; this removes its action
                nxt, m = checkpoint_observed(
                    self._move_round(sym, deg, asg, two_m, r),
                    __moved=F.sum(F.col("__moved").cast("long")),
                )
                asg = nxt.drop("__moved")
                if not m["__moved"]:
                    break
            else:
                asg = (
                    self._move_round(sym, deg, asg, two_m, r)
                    .drop("__moved")
                    .localCheckpoint()
                )
        return asg

    def run(self, g: Graph) -> DataFrame:
        und = canonical_undirected(g.edges, self.weight_col)
        if (
            self.levels == 1
            and int_columns(g.vertices, ID)
            and int_columns(g.edges, SRC, DST)
        ):
            # the raw edges, canonicalised in the kernel: fetching `und`
            # would add its aggregate's shuffle job to the fetch
            w = F.col(self.weight_col) if self.weight_col else F.lit(1)
            out = driver_finish(
                self.batch_finish,
                _batch_louvain_moving(self.fixed_rounds, self.max_rounds),
                f"{ID} long, {COMMUNITY} long",
                g.vertices.select(F.col(ID).alias("v")),
                g.edges.select(SRC, DST, w.cast("long").alias("w")),
            )
            if out is not None:
                return out
        # mapping: original vertex id -> current-level community
        mapping = self._local_moving(
            und, g.vertices.select(F.col(ID).alias("v"))
        )
        for _ in range(1, self.levels):
            # contract: endpoints -> communities; intra weight -> self-loop
            coarse = (
                und.join(
                    mapping.select(F.col("v").alias("a"), F.col("c").alias("ca")),
                    on="a",
                )
                .join(
                    mapping.select(F.col("v").alias("b"), F.col("c").alias("cb")),
                    on="b",
                )
                .select(
                    F.least("ca", "cb").alias("a"),
                    F.greatest("ca", "cb").alias("b"),
                    "w",
                )
                .groupBy("a", "b")
                .agg(F.sum("w").alias("w"))
                .localCheckpoint()
            )
            lvl = self._local_moving(coarse)
            mapping = (
                mapping.select("v", F.col("c").alias("mid"))
                .join(lvl.select(F.col("v").alias("mid"), "c"), on="mid")
                .select("v", "c")
                .localCheckpoint()
            )
            und = coarse
        # canonical labels: minimum member vertex id
        label = mapping.groupBy("c").agg(F.min("v").alias("label"))
        return mapping.join(label, on="c").select(
            F.col("v").alias(ID), F.col("label").alias(COMMUNITY)
        )
