"""Betweenness centrality — landmark-sampled Brandes on DataFrames.

For each source s: a level-synchronous forward sweep computes distance
``d`` and shortest-path counts ``σ`` per vertex; a backward sweep by
descending depth accumulates dependencies

    δ(v) = Σ_{w : d(w)=d(v)+1, (v,w)∈E} (σ(v)/σ(w)) · (1 + δ(w))

and betweenness(v) = Σ_s δ_s(v) over the source set. With all vertices as
sources this is exact Brandes; with a landmark sample it is the standard
unbiased approximation (Brandes–Pich) — pick the sample size, not the
graph size.

All sources run **simultaneously**: state rows are (source, vertex, depth,
sigma), so each BFS level is one join + one aggregation for the whole
source batch. Both sweeps checkpoint per level; rounds = 2 × (levels
actually reached).

Scale: per level one shuffle of the frontier (≤ |S|·V rows total across
the run) against the pre-partitioned edge list. Sources batch in one pass —
the classic k-sources-at-once Brandes batching.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.util import checkpoint_observed

BETWEENNESS = "betweenness"


def _batch_brandes(sources: list[int], max_depth: int):
    """Landmark-sampled Brandes in one Arrow batch (round 12, guide
    §2.4) — the same forward sigma sums (exact: integer path counts in
    doubles), the same per-level backward dependency accumulation
    (sigma_v/sigma_w)*(1+delta_w), the same depth budget. The BFS runs
    over ALL edge endpoints (the distributed sweeps never intersect
    with the vertex table mid-flight); the output projects the vertex
    table with 0 fill, exactly like the final left join. Same ulp story
    as the SVD kernels: per-sum accumulation order is the only
    divergence channel, the class of noise Spark's own shuffles carry."""

    def kern(_key, v_pdf, e_pdf):
        import numpy as np
        import pandas as pd

        vids = np.sort(v_pdf[ID].to_numpy(dtype=np.int64))
        src = e_pdf[SRC].to_numpy(dtype=np.int64)
        dst = e_pdf[DST].to_numpy(dtype=np.int64)
        eorder = np.lexsort((dst, src))
        src, dst = src[eorder], dst[eorder]
        uni = np.unique(
            np.concatenate(
                [vids, src, dst, np.array(sources, dtype=np.int64)]
            )
        )
        s_idx = np.searchsorted(uni, src)
        d_idx = np.searchsorted(uni, dst)
        n = len(uni)
        score = np.zeros(n, dtype=np.float64)
        for s in dict.fromkeys(int(x) for x in sources):
            s_slot = int(np.searchsorted(uni, s))
            dist = np.full(n, -1, dtype=np.int64)
            sigma = np.zeros(n, dtype=np.float64)
            dist[s_slot] = 0
            sigma[s_slot] = 1.0
            depth = 0
            while depth < max_depth:
                depth += 1
                live = (dist[s_idx] == depth - 1) & (dist[d_idx] < 0)
                if not live.any():
                    depth -= 1
                    break
                np.add.at(sigma, d_idx[live], sigma[s_idx[live]])
                dist[d_idx[live]] = depth
            delta = np.zeros(n, dtype=np.float64)
            for d in range(depth - 1, -1, -1):
                step = (dist[s_idx] == d) & (dist[d_idx] == d + 1)
                if not step.any():
                    continue
                np.add.at(
                    delta,
                    s_idx[step],
                    (sigma[s_idx[step]] / sigma[d_idx[step]])
                    * (1.0 + delta[d_idx[step]]),
                )
            delta[s_slot] = 0.0  # the s != v filter
            score = score + delta
        out = np.zeros(len(vids), dtype=np.float64)
        v_slot = np.searchsorted(uni, vids)
        out = score[v_slot]
        return pd.DataFrame({ID: vids, BETWEENNESS: out})

    return kern


class BetweennessCentrality:
    def __init__(
        self,
        sources: Sequence[int] | DataFrame,
        max_depth: int = 20,
        batch_finish: int = 2_000_000,
    ):
        self.sources = sources
        self.max_depth = max_depth
        # the kernel's rows are two int64 columns (the SYMMETRIC pair
        # list — the operator doubles an undirected input mechanically),
        # so 2M rows ≈ 32 MB in one Arrow task — the same per-task byte
        # budget as the 1M-row partition/matching kernels whose rows are
        # twice as wide. Distributed sweeps above the bound; 0 disables.
        self.batch_finish = batch_finish

    def _source_df(self, g: Graph) -> DataFrame:
        if isinstance(self.sources, DataFrame):
            return self.sources.select(
                F.col(self.sources.columns[0]).cast("long").alias("s")
            )
        return g.vertices.sparkSession.createDataFrame(
            [(int(x),) for x in self.sources], "s long"
        )

    def run(self, g: Graph) -> DataFrame:
        """Returns ``(id, betweenness double)`` for every vertex (0 where
        no sampled shortest path passes through)."""
        # batch-bound probe rides the materializing checkpoint
        # (round 12, checkpoint_observed)
        edges, me = checkpoint_observed(
            g.symmetric_edges.select(SRC, DST)
            .filter(F.col(SRC) != F.col(DST))
            .distinct()
            .repartition(F.col(SRC)),
            __n=F.count(F.lit(1)),
        )
        src_list = (
            None
            if isinstance(self.sources, DataFrame)
            else [int(x) for x in self.sources]
        )
        vk = {f.name: f.dataType.typeName() for f in g.vertices.schema.fields}
        ek = {f.name: f.dataType.typeName() for f in edges.schema.fields}
        ints = ("long", "integer", "short", "byte")
        if (
            self.batch_finish
            and src_list is not None
            and len(set(src_list)) == len(src_list)
            and vk.get(ID) in ints
            and ek.get(SRC) in ints
            and ek.get(DST) in ints
        ):
            # a plain count probe: above the bound a vertex checkpoint
            # would be a wasted full write
            vv = g.vertices.select(ID)
            if 0 < (me["__n"] or 0) + vv.count() <= self.batch_finish:
                return (
                    vv.withColumn("__g", F.lit(0))
                    .groupBy("__g")
                    .cogroup(
                        edges.withColumn("__g", F.lit(0)).groupBy("__g")
                    )
                    .applyInPandas(
                        _batch_brandes(src_list, self.max_depth),
                        f"{ID} long, {BETWEENNESS} double",
                    )
                )
        sources = self._source_df(g).localCheckpoint()

        # ---- forward sweep: (s, v, depth, sigma) ----
        paths = sources.select(
            "s",
            F.col("s").alias("v"),
            F.lit(0).alias("depth"),
            F.lit(1.0).alias("sigma"),
        ).localCheckpoint()
        frontier = paths
        levels = [paths]  # per-depth frames
        depth = 0
        while depth < self.max_depth:
            depth += 1
            # level-emptiness probe folded into the checkpoint job
            # (round 12, checkpoint_observed)
            expanded, m = checkpoint_observed(
                frontier.join(edges, on=frontier["v"] == edges[SRC])
                .select("s", edges[DST].alias("v"), "sigma")
                .groupBy("s", "v")
                .agg(F.sum("sigma").alias("sigma"))
                .join(paths.select("s", "v"), on=["s", "v"], how="anti")
                .withColumn("depth", F.lit(depth))
                .select("s", "v", "depth", "sigma"),
                __n=F.count(F.lit(1)),
            )
            if not m["__n"]:
                break
            levels.append(expanded)
            # union of already-checkpointed level frames: no re-checkpoint
            # (r11, guide §2.4 — the per-level union+localCheckpoint was a
            # full extra shuffle-and-materialize of the whole paths table
            # every level; the anti-join consumer scans the checkpointed
            # parts directly)
            paths = paths.unionByName(expanded)
            frontier = expanded

        # ---- backward sweep: dependencies per level ----
        # delta rows: (s, v, delta); start with deepest level at 0
        deltas_by_level: dict[int, DataFrame] = {}
        deepest = len(levels) - 1
        deltas_by_level[deepest] = levels[deepest].select(
            "s", "v", F.lit(0.0).alias("delta")
        )
        for d in range(deepest - 1, -1, -1):
            upper = (
                levels[d + 1]
                .join(deltas_by_level[d + 1], on=["s", "v"])
                .select(
                    "s",
                    F.col("v").alias("w"),
                    F.col("sigma").alias("sigma_w"),
                    "delta",
                )
            )
            contrib = (
                levels[d]
                .join(edges, on=levels[d]["v"] == edges[SRC])
                .select("s", "v", "sigma", edges[DST].alias("w"))
                .join(upper, on=["s", "w"])
                .select(
                    "s",
                    "v",
                    (
                        (F.col("sigma") / F.col("sigma_w"))
                        * (F.lit(1.0) + F.col("delta"))
                    ).alias("__c"),
                )
                .groupBy("s", "v")
                .agg(F.sum("__c").alias("delta"))
            )
            deltas_by_level[d] = (
                levels[d]
                .select("s", "v")
                .join(contrib, on=["s", "v"], how="left")
                .select("s", "v", F.coalesce("delta", F.lit(0.0)).alias("delta"))
                .localCheckpoint()
            )

        all_deltas = deltas_by_level[0]
        for d in range(1, deepest + 1):
            all_deltas = all_deltas.unionByName(deltas_by_level[d])
        scores = (
            all_deltas.filter(F.col("s") != F.col("v"))
            .groupBy("v")
            .agg(F.sum("delta").alias(BETWEENNESS))
        )
        return (
            g.vertices.select(ID)
            .join(scores.withColumnRenamed("v", ID), on=ID, how="left")
            .select(
                ID, F.coalesce(BETWEENNESS, F.lit(0.0)).alias(BETWEENNESS)
            )
        )
