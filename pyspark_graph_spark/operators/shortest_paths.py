"""Landmark shortest paths — per-vertex ``map<landmark, distance>`` state.

The reference's shortest_paths.py is pseudocode (string expressions, missing
imports — reference shortest_paths.py:7-26); this implements the documented
intent for real, GraphFrames-``shortestPaths``-style: for every vertex, the
hop distance to each landmark it can reach, following edge direction (plus
the reverse direction for undirected graphs).

State is a ``map<long,int>`` of known distances. Each round, senders
increment every entry (``transform_values``) and receivers element-wise-min
merge the incoming maps and their own state (``map_zip_with`` + ``least`` —
``least`` ignores nulls, giving union-with-min semantics). All map algebra is
built-in JVM higher-order functions — no UDFs. Map columns aren't
order-comparable in Spark, so the Pregel change detector compares
``array_sort(map_entries(...))``.

Scale: state size is O(|landmarks|) per vertex — pick landmark sets, not
all-pairs. Rounds = graph diameter (capped by ``max_iterations``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, MSG, SRC, STATE
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.operators.pregel import Pregel
from pyspark_graph_spark.util import driver_finish, int_columns

DISTANCES = "distances"
LANDMARK = "landmark"
DISTANCE = "distance"

def _empty_map() -> Column:
    return F.map_from_arrays(
        F.array().cast("array<long>"), F.array().cast("array<int>")
    )


def _merge_maps(acc: Column, m: Column) -> Column:
    """Union-of-keys, element-wise minimum of two distance maps."""
    return F.map_zip_with(acc, m, lambda _, v1, v2: F.least(v1, v2))


def _maps_differ(old: Column, new: Column) -> Column:
    return ~F.array_sort(F.map_entries(old)).eqNullSafe(
        F.array_sort(F.map_entries(new))
    )


def _batch_landmark_bfs(
    landmarks: list[int], max_iterations: int, directed: bool
):
    """Multi-landmark hop-distance BFS in the driver
    (``util.driver_finish``, the bounded-batch finish of the CC/SCC/
    reachable kernels). Hop distances are the unique integer BFS
    fixpoint, so the batch equals the distributed Pregel BY
    CONSTRUCTION, including the budget truncation: the Pregel delivers
    distance-d entries in round d, so entries beyond ``max_iterations``
    levels are absent from both. Messages only relay between state
    vertices — edges with an endpoint outside the vertex table relay
    nothing, exactly like the Pregel's state join."""

    def kern(v_pdf, e_pdf):
        import pandas as pd

        verts = [int(x) for x in v_pdf[ID]]
        vset = set(verts)
        # distances flow against edge direction (msg_to_src): BFS from
        # each landmark over REVERSED edges; undirected adds forward
        radj: dict[int, list[int]] = {}
        for s, d in zip(e_pdf["src"], e_pdf["dst"]):
            s, d = int(s), int(d)
            if s not in vset or d not in vset:
                continue
            radj.setdefault(d, []).append(s)
            if not directed:
                radj.setdefault(s, []).append(d)
        maps: dict[int, dict[int, int]] = {v: {} for v in verts}
        for lm in dict.fromkeys(int(x) for x in landmarks):
            if lm not in vset:
                continue
            maps[lm][lm] = 0
            frontier = {lm}
            seen = {lm}
            for depth in range(1, max_iterations + 1):
                nxt = {
                    u
                    for v in frontier
                    for u in radj.get(v, ())
                    if u not in seen
                }
                if not nxt:
                    break
                for u in nxt:
                    maps[u][lm] = depth
                seen |= nxt
                frontier = nxt
        return pd.DataFrame(
            {ID: verts, DISTANCES: [maps[v] for v in verts]}
        )

    return kern


class ShortestPaths:
    """Hop distances from every vertex to each landmark.

    ``landmarks``: vertex ids (sequence) or a single-column DataFrame of ids.
    ``run`` returns ``(id, distances map<long,int>)``; ``run_exploded``
    returns ``(id, landmark, distance)`` rows (SQL/oracle-friendly).

    ``batch_finish``: once vertices + edges fit the bound, the whole
    multi-landmark BFS runs in the driver on one Arrow fetch of both (see
    _batch_landmark_bfs); the per-round Pregel stays the only path above
    the bound and for DataFrame-valued landmark sets. 0 disables.
    """

    def __init__(
        self,
        landmarks: Sequence[int] | DataFrame,
        max_iterations: int = 10,
        batch_finish: int = 1_000_000,
    ):
        self.landmarks = landmarks
        self.max_iterations = max_iterations
        self.batch_finish = batch_finish

    def _landmark_df(self, g: Graph) -> DataFrame:
        if isinstance(self.landmarks, DataFrame):
            return self.landmarks.select(
                F.col(self.landmarks.columns[0]).cast("long").alias("__lm")
            )
        spark = g.vertices.sparkSession
        return spark.createDataFrame(
            [(int(x),) for x in self.landmarks], "__lm long"
        )

    def run(self, g: Graph) -> DataFrame:
        if (
            not isinstance(self.landmarks, DataFrame)
            and int_columns(g.vertices, ID)
            and int_columns(g.edges, SRC, DST)
        ):
            out = driver_finish(
                self.batch_finish,
                _batch_landmark_bfs(
                    [int(x) for x in self.landmarks],
                    self.max_iterations,
                    g.directed,
                ),
                f"{ID} long, {DISTANCES} map<bigint,int>",
                g.vertices.select(ID),
                g.edges.select(SRC, DST),
            )
            if out is not None:
                return out
        lm = F.broadcast(self._landmark_df(g))
        seeded = g.vertices.select(ID).join(
            lm, on=F.col(ID) == F.col("__lm"), how="left"
        ).select(
            ID,
            F.when(
                F.col("__lm").isNotNull(),
                F.map_from_arrays(
                    F.array(F.col(ID)), F.array(F.lit(0).cast("int"))
                ),
            )
            .otherwise(_empty_map())
            .alias("__seed"),
        )
        seeded_graph = Graph(seeded, g.edges, directed=g.directed, indexed=True)

        # distances flow *against* edge direction: if dst knows d(dst, L),
        # then src knows d(src, L) <= d + 1
        msg = F.transform_values(F.col(STATE), lambda _, v: v + F.lit(1))
        pregel = Pregel(
            initial_state=F.col("__seed"),
            agg_expr=F.aggregate(
                F.collect_list(MSG), _empty_map(), _merge_maps
            ),
            msg_to_src=msg,
            msg_to_dst=msg if not g.directed else None,
            update_expr=_merge_maps(F.col(STATE), F.col(MSG)),
            comparison=_maps_differ,
            max_iterations=self.max_iterations,
            carry_columns=[],  # shed the seed map after initialization
        )
        return pregel.run(seeded_graph).select(
            ID, F.col(STATE).alias(DISTANCES)
        )

    def run_exploded(self, g: Graph) -> DataFrame:
        return self.run(g).select(
            ID, F.explode(DISTANCES).alias(LANDMARK, DISTANCE)
        )
