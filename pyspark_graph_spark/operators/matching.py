"""Maximal matching — parallel greedy by deterministic edge priorities.

Each undirected edge draws a FIXED priority ``xxhash64(src, dst, seed)``
(tie-broken by (src, dst), so the order is total). Per round, every edge
that holds the minimum priority at BOTH of its endpoints joins the
matching; matched vertices and their incident edges leave the game.

Because priorities never change between rounds, the fixpoint of this
local-minima peeling is EXACTLY the sequential greedy matching over
edges in global priority order (Blelloch, Fineman & Shun, SPAA 2012:
greedy-by-random-order = parallel peeling of the priority DAG), while
finishing in O(log n) rounds w.h.p. instead of one edge at a time. That
equivalence is what the tests check: the distributed result must equal
a driver-side sequential greedy, edge for edge.

Per round: one incident-edge min aggregation (one shuffle keyed on
vertex), one broadcast-sized winner filter, two anti-joins on the
shrinking checkpointed edge list — the same peel-and-repeat shape as
MIS/k-core, with edge granularity. Once the residual edge list fits
``batch_finish`` rows, one Arrow fetch brings it to the driver and the
greedy finishes there sequentially (util.driver_finish, the same
bounded-batch finish as the multilevel partitioner's coarsest-level
assignment): the tail rounds of the peel
each decide a handful of edges yet cost three fixed-overhead jobs, and
the equivalence theorem makes the batch continuation bit-identical to
running the peel to fixpoint. Maximal matching is the standard
coarsening step of multilevel graph partitioners and a 2-approximation
of maximum matching / vertex cover.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.util import checkpoint_observed, driver_finish
from pyspark_graph_spark.session import (
    default_parallelism as _default_parallelism,
)


class MaximalMatching:
    """``run(g)`` returns the matched edge set (src, dst), src < dst.

    With ``weight_col``, priorities order by DESCENDING weight first
    (hash tie-break) — the peeling fixpoint is then sequential greedy
    by weight, the classic 1/2-approximation of maximum-weight
    matching (Avis 1983); without it, an unweighted maximal matching
    (2-approximation of minimum vertex cover).
    """

    def __init__(
        self,
        max_iterations: int = 60,
        seed: int = 0,
        weight_col: str | None = None,
        batch_finish: int = 400_000,
        priority: str = "xxhash64",
    ):
        if priority not in ("xxhash64", "md5"):
            raise ValueError("priority must be 'xxhash64' or 'md5'")
        self.max_iterations = max_iterations
        self.seed = seed
        self.weight_col = weight_col
        # 'xxhash64' is the fast JVM default; 'md5' switches edge
        # priorities to md5_hash60(src,dst,seed) — bit-identical in
        # DuckDB (functions/hashing.py), which makes the greedy fixpoint
        # REPLAYABLE by an external SQL oracle (sequential greedy over
        # edges in priority order = this peel's fixpoint, module
        # docstring). graph_coarsen's mapping-level gate oracle uses it.
        self.priority = priority
        # once the residual edge list fits this bound, finish the greedy
        # sequentially in the driver instead of paying 3 fixed-overhead
        # Spark jobs per peeling round for a dwindling tail.
        # 400k rows x ~32 B = ~13 MB fetched (measured: 12.8 MB
        # frame, +33 MB RSS), and the
        # sequential continuation is an O(n log n) sort + linear scan
        # (measured 2.6 s at the FULL bound; it usually fires well below
        # it), so the bound trades 2-3 whole peel rounds (each a
        # vertex-keyed shuffle) for one bounded batch. Verified at
        # real-sf1 (10.1M-edge supplier graph): 18.4 s with the bound vs
        # 30.2 s pure peel, same matching, interleaved same-session A/B
        # (SCALE.md round 9). The distributed peel remains the
        # asymptotic path for billion-edge levels.
        # Provably identical output: the peeling fixpoint equals
        # sequential greedy in priority order (module docstring), and the
        # residual graph's greedy is the exact continuation of the global
        # one — every higher-priority edge has already been decided and
        # removed. 0 disables the batch finish (pure distributed peel).
        self.batch_finish = batch_finish

    def _priority_col(self) -> Column:
        if self.priority == "md5":
            from pyspark_graph_spark.functions.hashing import (
                md5_hash60_concat,
            )

            return md5_hash60_concat(
                F.col(SRC), F.col(DST), F.lit(self.seed)
            )
        return F.xxhash64(F.col(SRC), F.col(DST), F.lit(self.seed))

    def run(self, g: Graph) -> DataFrame:
        w = self.weight_col
        base = g.edges.select(SRC, DST, *([w] if w else []))
        edges = (
            base.unionByName(
                base.select(
                    F.col(DST).alias(SRC),
                    F.col(SRC).alias(DST),
                    *([w] if w else []),
                )
            )
            .filter(F.col(SRC) < F.col(DST))
            .withColumn("__p", self._priority_col())
            .withColumn(
                "__np",
                -F.col(w).cast("double") if w else F.lit(0.0),
            )
        )
        spark = edges.sparkSession
        # per-round winner frames, unioned ONCE after the loop — a running
        # matched-union checkpoint would cost one extra job per round
        rounds: list[DataFrame] = []

        def _merged() -> DataFrame:
            out = spark.createDataFrame([], f"{SRC} long, {DST} long")
            for w_df in rounds:
                out = out.unionByName(w_df)
            # the union stacks every round's checkpointed partitions;
            # narrow-coalesce so consumers see one frame's worth of tasks
            return out.coalesce(_default_parallelism(spark))

        def _batch_greedy(pdf):
            pdf = pdf.sort_values(["__np", "__p", SRC, DST])
            matched: set[int] = set()
            out = []
            for s, d in zip(pdf[SRC], pdf[DST]):
                if s not in matched and d not in matched:
                    matched.add(s)
                    matched.add(d)
                    out.append((int(s), int(d)))
            import pandas as pd

            return pd.DataFrame(out, columns=[SRC, DST])

        # the whole edge list fits the bound: the sequential greedy in the
        # driver, deduplicated there (__p and __np are functions of the
        # deduplicated columns)
        out = driver_finish(
            self.batch_finish,
            lambda pdf: _batch_greedy(pdf.drop_duplicates()),
            f"{SRC} long, {DST} long",
            edges,
        )
        if out is not None:
            return out
        # the per-round residual size probe rides each checkpoint job
        # (checkpoint_observed)
        edges, m = checkpoint_observed(
            edges.distinct(), __n=F.count(F.lit(1))
        )
        for _ in range(self.max_iterations):
            n_edges = m["__n"] or 0
            if n_edges == 0:
                return _merged()
            tail = (
                driver_finish(
                    self.batch_finish,
                    _batch_greedy,
                    f"{SRC} long, {DST} long",
                    edges.select(SRC, DST, "__p", "__np"),
                )
                if n_edges <= self.batch_finish
                else None
            )
            if tail is not None:
                rounds.append(tail)
                return _merged()
            key = F.struct(
                F.col("__np"), F.col("__p"), F.col(SRC), F.col(DST)
            ).alias("__k")
            inc = edges.select(F.col(SRC).alias("__v"), key).unionByName(
                edges.select(F.col(DST).alias("__v"), key)
            )
            vmin = inc.groupBy("__v").agg(F.min("__k").alias("__m"))
            winners = (
                edges.select(SRC, DST, key)
                .join(
                    vmin.withColumnRenamed("__v", SRC).withColumnRenamed(
                        "__m", "__ms"
                    ),
                    on=SRC,
                )
                .join(
                    vmin.withColumnRenamed("__v", DST).withColumnRenamed(
                        "__m", "__md"
                    ),
                    on=DST,
                )
                .filter(
                    (F.col("__k") == F.col("__ms"))
                    & (F.col("__k") == F.col("__md"))
                )
                .select(SRC, DST)
                .localCheckpoint()
            )
            rounds.append(winners)
            mv = (
                winners.select(F.col(SRC).alias(ID))
                .unionByName(winners.select(F.col(DST).alias(ID)))
                .distinct()
            )
            edges, m = checkpoint_observed(
                edges.join(
                    mv.withColumnRenamed(ID, SRC), on=SRC, how="anti"
                ).join(mv.withColumnRenamed(ID, DST), on=DST, how="anti"),
                __n=F.count(F.lit(1)),
            )
        # a total priority order always yields >=1 winner per round (the
        # global minimum is a local minimum at both its endpoints), so
        # non-convergence means max_iterations is simply too small
        raise ValueError(
            "MaximalMatching did not exhaust the edge list within "
            f"max_iterations={self.max_iterations}; rounds are O(log n) "
            "w.h.p. — raise the budget for adversarial graphs"
        )


def coarsen(
    g: Graph, matching: DataFrame, sum_weights: bool = False
) -> tuple[Graph, DataFrame]:
    """Contract a matching into a supervertex graph — the multilevel
    partitioner's coarsening step (Karypis & Kumar, METIS).

    Each matched pair collapses to its smaller endpoint id; unmatched
    vertices map to themselves. Returns ``(coarse_graph, mapping)`` with
    ``mapping`` = (id, super) rows for EVERY input vertex. Coarse edges
    are the contracted distinct pairs with a ``weight`` column counting
    the parallel originals. With ``sum_weights=True`` the input's own
    ``weight`` column is SUMMED instead (each input edge contributes its
    weight, default 1 when NULL): pass it when contracting a graph that
    is itself a coarsen output, so repeated coarsening preserves cut
    sizes in fine-edge units at every level — not just the first. The
    flag is explicit rather than keyed on column presence so a caller
    whose graph carries an unrelated user ``weight`` column keeps the
    documented parallel-edge-count semantics.
    Self-loops (intra-pair edges) drop. One broadcast-sized join against
    the matching (|M| ≤ |V|/2 rows), one contraction aggregate —
    |V(coarse)| = |V| − |M| by construction, which the tests pin."""
    pair_map = matching.select(
        F.col(SRC).alias(ID), F.least(SRC, DST).alias("super")
    ).unionByName(
        matching.select(
            F.col(DST).alias(ID), F.least(SRC, DST).alias("super")
        )
    )
    mapping = (
        g.vertices.select(ID)
        .join(pair_map, on=ID, how="left")
        .select(ID, F.coalesce("super", F.col(ID)).alias("super"))
        .localCheckpoint()
    )
    if sum_weights:
        if "weight" not in g.edges.columns:
            raise ValueError(
                "sum_weights=True requires an edge 'weight' column "
                "(coarsen outputs carry one)"
            )
        base = g.edges.select(SRC, DST, "weight")
        w = F.coalesce(F.col("weight"), F.lit(1)).cast("long")
    else:
        base = g.edges.select(SRC, DST)
        w = F.lit(1).cast("long")
    contracted = (
        base.join(
            mapping.withColumnsRenamed({ID: SRC, "super": "__ss"}), on=SRC
        )
        .join(
            mapping.withColumnsRenamed({ID: DST, "super": "__sd"}), on=DST
        )
        .select(
            F.least("__ss", "__sd").alias(SRC),
            F.greatest("__ss", "__sd").alias(DST),
            w.alias("__w"),
        )
        .filter(F.col(SRC) != F.col(DST))
        .groupBy(SRC, DST)
        .agg(F.sum("__w").alias("weight"))
        # checkpoint the contracted edge list: multilevel consumers run
        # SEVERAL actions per level (vertex count, the next peel's edge
        # prep, the next contraction) and without this each one re-executes
        # the entire contraction chain back to the fine graph — measured at
        # real-sf1 as a ~20-30 s floor per level even at V=313/E=49k
        # (SCALE.md round 7). The engine's own §3b rule: iterate on
        # checkpointed frames. mapping below was already eager, so this
        # does not change the call's laziness class; the frame is the
        # post-contraction edge list, which halves every level.
        .localCheckpoint()
    )
    coarse_vertices = mapping.select(
        F.col("super").alias(ID)
    ).distinct()
    return (
        Graph(coarse_vertices, contracted, directed=False, indexed=True),
        mapping,
    )
