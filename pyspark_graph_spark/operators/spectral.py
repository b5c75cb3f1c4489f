"""Spectral centralities: eigenvector centrality and HITS (hubs/authorities).

Engine extensions (the reference ships no centralities at all; its README
lists even PageRank as unsupported — `/root/reference/README.md:24-38`).
Both are classic power iterations, so they reuse the engine's iterative
shape: a static edge side checkpointed once, per-round localCheckpoint to
cut lineage, global normalization as a broadcast 1-row crossJoin.

    eigenvector:  x ← A·x / ‖A·x‖₂          (symmetrized adjacency)
    HITS:         a ← Aᵀ·h / ‖Aᵀ·h‖₂,  h ← A·a / ‖A·a‖₂

Scale per round: one shuffle keyed on the vertex id for the neighbor-sum
aggregate (map-side partial sums), plus a broadcast of a single scalar for
the norm — the norm is a full reduce but moves 8 bytes. Hub-skew behaves
like PageRank's: AQE skew-split on the contribution join, or pre-salt via
Pregel's knob if a hot vertex dominates. Fixed iteration counts keep the
result exactly reproducible by an unrolled-CTE SQL oracle.
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

# Bounded-batch finish: same contract and ulp story as the SVD/ALS/
# PageRank kernels (operators/svd.py module note); the kernels run in the
# driver on one Arrow fetch of the vertex ids and edges
# (util.driver_finish). Both spectral iterations are fully guarded
# (`when(norm > 0)`), so no degenerate deferral is needed — the kernels
# replay the zero-norm branch exactly.


def _integral_graph(g: Graph) -> bool:
    return int_columns(g.vertices, ID) and int_columns(g.edges, SRC, DST)


def _eigen_batch_kernel(iterations: int):
    def kern(v_pdf, e_pdf):
        import numpy as np
        import pandas as pd

        ids = np.sort(v_pdf[ID].to_numpy(dtype=np.int64))
        src = e_pdf[SRC].to_numpy(dtype=np.int64)
        dst = e_pdf[DST].to_numpy(dtype=np.int64)
        eorder = np.lexsort((dst, src))
        src, dst = src[eorder], dst[eorder]
        s_idx, s_ok = positions(ids, src)
        d_idx, d_ok = positions(ids, dst)
        ok = s_ok & d_ok
        s_idx, d_idx = s_idx[ok], d_idx[ok]
        x = np.ones(len(ids), dtype=np.float64)
        for _ in range(iterations):
            s = np.zeros(len(ids), dtype=np.float64)
            np.add.at(s, d_idx, x[s_idx])
            norm = np.sqrt(np.sum(s * s))
            x = s / norm if norm > 0 else np.zeros(len(ids))
        return pd.DataFrame({ID: ids, "eigenvector": x})

    return kern


def _hits_batch_kernel(iterations: int):
    """HITS over the union universe of vertex ids and edge endpoints:
    the distributed plan refills HUB on the vertex table each round
    (non-vertex sources lose their score) but passes AUTH straight into
    the hub step un-refilled — a non-vertex destination DOES relay
    within a round. The kernel replays exactly that: auth accumulates
    only from vertex-table sources (only they hold hub rows), hub reads
    auth at any destination, and the output projects the vertex slots."""

    def kern(v_pdf, e_pdf):
        import numpy as np
        import pandas as pd

        vids = np.sort(v_pdf[ID].to_numpy(dtype=np.int64))
        src = e_pdf[SRC].to_numpy(dtype=np.int64)
        dst = e_pdf[DST].to_numpy(dtype=np.int64)
        eorder = np.lexsort((dst, src))
        src, dst = src[eorder], dst[eorder]
        uni = np.unique(np.concatenate([vids, src, dst]))
        s_idx = np.searchsorted(uni, src)
        d_idx = np.searchsorted(uni, dst)
        v_slot = np.searchsorted(uni, vids)
        is_vert = np.zeros(len(uni), dtype=bool)
        is_vert[v_slot] = True
        src_in_verts = is_vert[s_idx]
        sa, da = s_idx[src_in_verts], d_idx[src_in_verts]
        hub = np.zeros(len(uni), dtype=np.float64)
        hub[v_slot] = 1.0
        auth = np.zeros(len(uni), dtype=np.float64)
        for i in range(iterations):
            auth = np.zeros(len(uni), dtype=np.float64)
            np.add.at(auth, da, hub[sa])
            hub = np.zeros(len(uni), dtype=np.float64)
            np.add.at(hub, s_idx, auth[d_idx])
            if i < iterations - 1:
                hub[~is_vert] = 0.0
        hub = hub[v_slot]
        auth = auth[v_slot]
        hn = np.sqrt(np.sum(hub * hub))
        an = np.sqrt(np.sum(auth * auth))
        hub = hub / hn if hn > 0 else np.zeros(len(vids))
        auth = auth / an if an > 0 else np.zeros(len(vids))
        return pd.DataFrame({ID: vids, "hub": hub, "authority": auth})

    return kern


def _l2_normalize(scores: DataFrame, col: str) -> DataFrame:
    """Divide ``col`` by its global L2 norm (broadcast 1-row join)."""
    norm = scores.agg(
        F.sqrt(F.sum(F.col(col) * F.col(col))).alias("__norm")
    )
    return scores.crossJoin(F.broadcast(norm)).select(
        ID,
        # edgeless graph -> zero vector: keep zeros instead of NaN
        F.when(F.col("__norm") > 0, F.col(col) / F.col("__norm"))
        .otherwise(F.lit(0.0))
        .alias(col),
    )


class EigenvectorCentrality:
    """Power iteration for the principal eigenvector of the (symmetrized)
    adjacency matrix. Fixed ``iterations`` (no tolerance) so external
    oracles can replay the exact computation."""

    def __init__(self, iterations: int = 5, batch_finish: int = 1_000_000):
        self.iterations = iterations
        self.batch_finish = batch_finish

    def run(self, g: Graph) -> DataFrame:
        """Returns ``(id, eigenvector)`` for every vertex."""
        # probes ride the materializing checkpoints (round 12)
        edges, me = checkpoint_observed(
            g.symmetric_edges.select(SRC, DST), __n=F.count(F.lit(1))
        )
        verts, mv = checkpoint_observed(
            g.vertices.select(ID), __n=F.count(F.lit(1))
        )
        if (me["__n"] or 0) + (mv["__n"] or 0) <= self.batch_finish and (
            _integral_graph(g)
        ):
            out = driver_finish(
                self.batch_finish,
                _eigen_batch_kernel(self.iterations),
                f"{ID} long, eigenvector double",
                verts,
                edges,
            )
            if out is not None:
                return out
        x = verts.select(ID, F.lit(1.0).alias("eigenvector"))
        for _ in range(self.iterations):
            summed = (
                edges.join(x, on=F.col(SRC) == F.col(ID))
                .select(F.col(DST).alias(ID), F.col("eigenvector"))
                .groupBy(ID)
                .agg(F.sum("eigenvector").alias("__s"))
            )
            # isolated vertices fall to 0 (no incident edges feed them)
            x = (
                verts.join(summed, on=ID, how="left")
                .select(
                    ID, F.coalesce("__s", F.lit(0.0)).alias("eigenvector")
                )
            )
            x = _l2_normalize(x, "eigenvector").localCheckpoint()
        return x


class HITS:
    """Hyperlink-Induced Topic Search on a DIRECTED graph: hub scores flow
    forward along edges into authority scores, authorities flow backward
    into hubs (Kleinberg). Fixed ``iterations`` for oracle replay.

    Normalization is DEFERRED to the end: for a linear iteration the
    per-round L2 scalars commute through A/Aᵀ, so normalizing once at the
    end yields the identical direction — and drops two global aggregates
    plus two checkpointed frames per round (measured 19 s -> 10 s at sf0.1, of which ~4.5 s is the shared bipartite-graph build and ~0.7 s each of the 8 half-rounds).
    Bounded rounds keep magnitudes ≪ double range (‖scores‖ ~ σ_max^{2k};
    overflow would need σ_max^{2k} > 1e308 — raise ``iterations`` past ~20
    on a billion-scale graph and you should re-enable per-round scaling).

    Per-round physical shape: the V-row score frame BROADCASTS into a join
    against the statically partitioned edge side, and the message aggregate
    reuses that edge partitioning (edges are pre-partitioned by dst for the
    authority step and by src for the hub step) — zero shuffles per round,
    one broadcast of V scores. ``broadcast_scores=False`` switches to plain
    shuffle joins for graphs whose vertex set itself is too big to ship.
    """

    def __init__(
        self,
        iterations: int = 4,
        broadcast_scores: bool = True,
        batch_finish: int = 1_000_000,
    ):
        self.iterations = iterations
        self.broadcast_scores = broadcast_scores
        self.batch_finish = batch_finish

    def run(self, g: Graph) -> DataFrame:
        """Returns ``(id, hub, authority)`` for every vertex."""
        if _integral_graph(g):
            # the fetch is the gate: above the bound the distributed body
            # builds its own persisted by_dst/by_src frames
            out = driver_finish(
                self.batch_finish,
                _hits_batch_kernel(self.iterations),
                f"{ID} long, hub double, authority double",
                g.vertices.select(ID),
                g.edges.select(SRC, DST),
            )
            if out is not None:
                return out
        # persist (NOT localCheckpoint) the static sides: a checkpointed
        # frame scans as a bare RDD with its outputPartitioning erased, so
        # every round would re-Exchange; the cache keeps the partitioning
        # metadata and the per-round aggregates reuse it shuffle-free
        by_dst = g.edges.select(SRC, DST).repartition(F.col(DST)).persist()
        by_src = by_dst.repartition(F.col(SRC)).persist()
        verts = g.vertices.select(ID).repartition(F.col(ID)).persist()
        maybe_b = F.broadcast if self.broadcast_scores else (lambda df: df)
        hub = verts.select(ID, F.lit(1.0).alias("hub"))
        auth = None
        for i in range(self.iterations):
            auth = (
                by_dst.join(maybe_b(hub), on=F.col(SRC) == F.col(ID))
                .groupBy(F.col(DST).alias(ID))
                .agg(F.sum("hub").alias("authority"))
            )
            hub = (
                by_src.join(maybe_b(auth), on=F.col(DST) == F.col(ID))
                .groupBy(F.col(SRC).alias(ID))
                .agg(F.sum("authority").alias("hub"))
            )
            if i < self.iterations - 1:
                hub = verts.join(hub, on=ID, how="left").select(
                    ID, F.coalesce("hub", F.lit(0.0)).alias("hub")
                ).localCheckpoint()
        # vertices never reached by a step keep score 0
        auth = verts.join(auth, on=ID, how="left").select(
            ID, F.coalesce("authority", F.lit(0.0)).alias("authority")
        )
        hub = verts.join(hub, on=ID, how="left").select(
            ID, F.coalesce("hub", F.lit(0.0)).alias("hub")
        )
        hub = _l2_normalize(hub, "hub")
        auth = _l2_normalize(auth, "authority")
        return hub.join(auth, on=ID).select(ID, "hub", "authority")
