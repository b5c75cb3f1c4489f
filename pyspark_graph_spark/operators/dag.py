"""DAG topological layering (Kahn peel) with cycle detection.

``TopologicalLayers`` assigns every vertex its longest-path-from-a-source
depth: round r removes the current sources (vertices with no remaining
in-edge) and labels them ``layer = r``. That is exactly Kahn's algorithm
run level-synchronously — ``layer(v) = 1 + max(layer(pred))`` — so sorting
by ``(layer, id)`` yields a deterministic topological order.

Rounds equal the DAG's depth (longest path length + 1): the right
distributed shape for the shallow, wide DAGs this is meant for (dependency
/ lineage / scheduling graphs), where depth ≪ V. Each round is two
anti-joins (find sources; drop their out-edges) on a strictly shrinking
edge list, checkpointed. Vertices still holding edges after
``max_iterations`` rounds sit on (or downstream of) a directed cycle and
come back with ``layer = NULL`` — a self-loop is the 1-cycle special case.
An all-NULL-free result is therefore also a certificate that the input was
acyclic within the round budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.util import checkpoint_observed, positions

LAYER = "layer"


def _batch_kahn(max_iterations: int):
    """Level-synchronous Kahn peel in one Arrow batch (round 12, guide
    §2.4): pure set/integer arithmetic, so batch == distributed by
    construction — including the round budget (cycle vertices and
    everything the budget strands keep layer NULL) and edges whose
    source is outside the vertex table (they block their destination
    forever in both paths)."""

    def kern(_key, v_pdf, e_pdf):
        import pandas as pd

        verts = [int(x) for x in v_pdf[ID]]
        raw = {(int(s), int(d)) for s, d in zip(e_pdf["src"], e_pdf["dst"])}
        loopers = {s for s, d in raw if s == d}
        edges = {(s, d) for s, d in raw if s != d}
        active = {v for v in verts if v not in loopers}
        layer: dict[int, int] = {}
        for r in range(max_iterations):
            blocked = {d for _, d in edges}
            sources = {v for v in active if v not in blocked}
            if not sources:
                break
            for v in sources:
                layer[v] = r
            active -= sources
            edges = {(s, d) for s, d in edges if s not in sources}
        return pd.DataFrame(
            {ID: verts, LAYER: [layer.get(v) for v in verts]}
        ).astype({LAYER: "object"})

    return kern


class TopologicalLayers:
    """Longest-path depth per vertex of a DAG; NULL layer marks cycles.

    ``batch_finish``: below the bound the whole peel runs in one Arrow
    batch (_batch_kahn); the per-round anti-join plan stays the only
    path above it. 0 disables."""

    def __init__(self, max_iterations: int = 30, batch_finish: int = 1_000_000):
        self.max_iterations = max_iterations
        self.batch_finish = batch_finish

    def run(self, g: Graph) -> DataFrame:
        vk = {f.name: f.dataType.typeName() for f in g.vertices.schema.fields}
        ek = {f.name: f.dataType.typeName() for f in g.edges.schema.fields}
        ints = ("long", "integer", "short", "byte")
        if (
            self.batch_finish
            and vk.get(ID) in ints
            and ek.get(SRC) in ints
            and ek.get(DST) in ints
        ):
            # plain count probes (no extra materialization above the
            # bound — the distributed body checkpoints its own frames)
            verts = g.vertices.select(ID)
            edges0 = g.edges.select(SRC, DST)
            if 0 < verts.count() + edges0.count() <= self.batch_finish:
                return (
                    verts.withColumn("__g", F.lit(0))
                    .groupBy("__g")
                    .cogroup(
                        edges0.withColumn("__g", F.lit(0)).groupBy("__g")
                    )
                    .applyInPandas(
                        _batch_kahn(self.max_iterations),
                        f"{ID} long, {LAYER} int",
                    )
                )
        edges = (
            g.edges.select(SRC, DST)
            .filter(F.col(SRC) != F.col(DST))
            .distinct()
            .localCheckpoint()
        )
        # self-loop vertices are 1-cycles: never peelable
        loopers = (
            g.edges.filter(F.col(SRC) == F.col(DST))
            .select(F.col(SRC).alias(ID))
            .distinct()
        )
        active = (
            g.vertices.select(ID).join(loopers, on=ID, how="anti").localCheckpoint()
        )

        out: DataFrame | None = None
        for r in range(self.max_iterations):
            blocked = edges.select(F.col(DST).alias(ID)).distinct()
            # emptiness probe rides the checkpoint job (round 12,
            # checkpoint_observed) instead of a second limit-count action
            sources, m = checkpoint_observed(
                active.join(blocked, on=ID, how="anti"),
                __n=F.count(F.lit(1)),
            )
            if not m["__n"]:
                break
            layer = sources.withColumn(LAYER, F.lit(r))
            out = layer if out is None else out.unionByName(layer)
            active = active.join(sources, on=ID, how="anti")
            edges = (
                edges.join(
                    sources.select(F.col(ID).alias(SRC)), on=SRC, how="anti"
                )
                .localCheckpoint()
            )

        leftover = (
            g.vertices.select(ID)
            .join(
                out.select(ID) if out is not None else active.limit(0),
                on=ID,
                how="anti",
            )
            .withColumn(LAYER, F.lit(None).cast("int"))
        )
        if out is None:
            return leftover
        return out.withColumn(LAYER, F.col(LAYER).cast("int")).unionByName(
            leftover
        )


DIST = "critical_path"


def _batch_critical_path(max_iterations: int):
    """Max-plus relaxation in one Arrow batch: per round each vertex
    takes max(old, max over in-edges (dist[src] + w)). No accumulation
    anywhere (only max over exact per-pair additions), so batch ==
    distributed bit for bit; the changed probe, the round budget, and
    the loud non-convergence ValueError replay exactly. NaN weights
    defer (Spark compares NaN==NaN as true; IEEE does not)."""

    def kern(_key, v_pdf, e_pdf):
        import numpy as np
        import pandas as pd

        ids = np.sort(v_pdf[ID].to_numpy(dtype=np.int64))
        src = e_pdf["src"].to_numpy(dtype=np.int64)
        dst = e_pdf["dst"].to_numpy(dtype=np.int64)
        w = e_pdf["__w"].to_numpy(dtype=np.float64)
        if np.any(np.isnan(w)):
            raise RuntimeError("__CP_BATCH_DEGENERATE__")
        s_idx, s_ok = positions(ids, src)
        d_idx, d_ok = positions(ids, dst)
        ok = s_ok & d_ok
        s_idx, d_idx, w = s_idx[ok], d_idx[ok], w[ok]
        dist = np.zeros(len(ids), dtype=np.float64)
        for _ in range(max_iterations):
            new = dist.copy()
            np.maximum.at(new, d_idx, dist[s_idx] + w)
            if np.array_equal(new, dist):
                return pd.DataFrame({ID: ids, DIST: new})
            dist = new
        raise ValueError("__CP_BATCH_VALUEERROR__")

    return kern


class CriticalPath:
    """Longest WEIGHTED path ending at each vertex of a DAG (max-plus DP).

    dist(v) = max(0, max over in-edges (dist(u) + w(u,v))) — the critical-
    path metric of scheduling/lineage graphs. Level-synchronous Bellman
    relaxation with max instead of min: each round joins the current
    distances onto the edge list and takes a per-vertex max; on a DAG the
    fixpoint arrives after ``depth`` rounds (early-stopped by a changed-
    row count, one action per round, same as every iterative operator
    here). Cycles with positive weights would never converge — the round
    budget is the guard, and a non-converged run raises.

    Scale: one edge join + one map-side-combinable max aggregation per
    round over V rows of state; rounds = DAG depth.
    """

    def __init__(
        self,
        weight_col: str = "weight",
        max_iterations: int = 30,
        batch_finish: int = 1_000_000,
    ):
        self.weight_col = weight_col
        self.max_iterations = max_iterations
        self.batch_finish = batch_finish

    def run(self, g: Graph) -> DataFrame:
        # weights are kept as double: casting to long would silently
        # truncate fractional weights on a documented general weighted DP
        # (ties are unaffected — only max/sum are applied)
        w = self.weight_col
        edges, me = checkpoint_observed(
            g.edges.select(SRC, DST, F.col(w).cast("double").alias("__w"))
            .filter(F.col(SRC) != F.col(DST)),
            __n=F.count(F.lit(1)),
        )
        vk = {f.name: f.dataType.typeName() for f in g.vertices.schema.fields}
        ek = {f.name: f.dataType.typeName() for f in g.edges.schema.fields}
        ints = ("long", "integer", "short", "byte")
        if (
            self.batch_finish
            and vk.get(ID) in ints
            and ek.get(SRC) in ints
            and ek.get(DST) in ints
        ):
            # a plain count probe: above the bound a vertex checkpoint
            # would be a wasted full write
            verts = g.vertices.select(ID)
            if 0 < verts.count() + (me["__n"] or 0) <= self.batch_finish:
                out = (
                    verts.withColumn("__g", F.lit(0))
                    .groupBy("__g")
                    .cogroup(
                        edges.withColumn("__g", F.lit(0)).groupBy("__g")
                    )
                    .applyInPandas(
                        _batch_critical_path(self.max_iterations),
                        f"{ID} long, {DIST} double",
                    )
                )
                try:
                    # eager: the non-convergence ValueError must surface
                    # at the call, and NaN weights defer to the
                    # distributed plan (Spark's NaN==NaN comparison
                    # semantics differ from IEEE)
                    return out.localCheckpoint()
                except Exception as e:
                    msg = str(e)
                    if "__CP_BATCH_VALUEERROR__" in msg:
                        raise ValueError(
                            "CriticalPath did not converge within "
                            "max_iterations — cyclic input or depth "
                            "budget too small"
                        ) from None
                    if "__CP_BATCH_DEGENERATE__" not in msg:
                        raise
        dist = g.vertices.select(
            ID, F.lit(0.0).alias(DIST)
        ).localCheckpoint()
        for _ in range(self.max_iterations):
            cand = edges.join(
                dist.select(F.col(ID).alias(SRC), F.col(DIST).alias("__d")),
                on=SRC,
            ).select(
                F.col(DST).alias(ID),
                (F.col("__d") + F.col("__w")).alias(DIST),
            )
            # identical max-plus relaxation, restructured so the changed
            # probe rides the checkpoint job (round 12,
            # checkpoint_observed): max over {old} ∪ candidates ==
            # greatest(old, max(candidates)) exactly (max is order-free,
            # both treat NaN as largest), and carrying __old through the
            # aggregate lets the change flag fold into the same job —
            # the previous shape paid a join + limit-count action per
            # round on top of the checkpoint.
            relaxed = (
                dist.withColumnRenamed(DIST, "__old")
                .join(cand.groupBy(ID).agg(F.max(DIST).alias("__c")), on=ID, how="left")
                .select(
                    ID,
                    F.col("__old"),
                    F.greatest(
                        F.col("__old"), F.coalesce("__c", F.col("__old"))
                    ).alias(DIST),
                )
            )
            new, m = checkpoint_observed(
                relaxed.select(
                    ID,
                    DIST,
                    (F.col(DIST) != F.col("__old")).alias("__chg"),
                ),
                __changed=F.sum(F.col("__chg").cast("long")),
            )
            dist = new.drop("__chg")
            if not m["__changed"]:
                return dist
        raise ValueError(
            "CriticalPath did not converge within max_iterations — "
            "cyclic input or depth budget too small"
        )
