"""Weighted single-source/landmark shortest paths (min-plus Pregel).

Generalizes :class:`ShortestPaths` from hop counts to summed edge weights:
state is ``map<landmark, double>`` of best known distances; a sender's
message adds the traversed edge's weight to every entry (the message
expression evaluates over edge ⋈ sender-state columns, so the weight column
is in scope); receivers merge with element-wise minimum. This is Bellman-
Ford over the min-plus semiring — ``max_iterations`` bounds the hop count
of discovered paths, so negative-weight graphs terminate too (with the
usual bounded-hops caveat).

Same scale profile as ShortestPaths: O(|landmarks|) state per vertex,
O(bounded hops) rounds.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import ID, MSG, STATE
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.operators.pregel import Pregel
from pyspark_graph_spark.util import local_frame

DISTANCE = "distance"
LANDMARK = "landmark"


def _empty_map() -> Column:
    return F.map_from_arrays(
        F.array().cast("array<long>"), F.array().cast("array<double>")
    )


def _merge(acc: Column, m: Column) -> Column:
    return F.map_zip_with(acc, m, lambda _, a, b: F.least(a, b))


def _differ(old: Column, new: Column) -> Column:
    return ~F.array_sort(F.map_entries(old)).eqNullSafe(
        F.array_sort(F.map_entries(new))
    )


class WeightedShortestPaths:
    """Min-plus distances from every vertex to each landmark.

    ``weight_col``: edge column with the (double) weight. ``run_exploded``
    returns ``(id, landmark, distance)`` rows.
    """

    def __init__(
        self,
        landmarks: Sequence[int] | DataFrame,
        weight_col: str = "weight",
        max_iterations: int = 10,
    ):
        self.landmarks = landmarks
        self.weight_col = weight_col
        self.max_iterations = max_iterations

    def _landmark_df(self, g: Graph) -> DataFrame:
        if isinstance(self.landmarks, DataFrame):
            return self.landmarks.select(
                F.col(self.landmarks.columns[0]).cast("long").alias("__lm")
            )
        return local_frame(
            g.vertices.sparkSession,
            "__lm long",
            [int(x) for x in self.landmarks],
        )

    def run(self, g: Graph) -> DataFrame:
        seeded = (
            g.vertices.select(ID)
            .join(
                F.broadcast(self._landmark_df(g)),
                on=F.col(ID) == F.col("__lm"),
                how="left",
            )
            .select(
                ID,
                F.when(
                    F.col("__lm").isNotNull(),
                    F.map_from_arrays(
                        F.array(F.col(ID)),
                        F.array(F.lit(0.0)),
                    ),
                )
                .otherwise(_empty_map())
                .alias("__seed"),
            )
        )
        graph = Graph(
            seeded, g.symmetric_edges if not g.directed else g.edges,
            directed=True, indexed=True,
        )
        w = F.col(self.weight_col).cast("double")
        msg = F.transform_values(F.col(STATE), lambda _, v: v + w)
        pregel = Pregel(
            initial_state=F.col("__seed"),
            agg_expr=F.aggregate(F.collect_list(MSG), _empty_map(), _merge),
            msg_to_src=msg,  # distances-to-landmark flow against edges
            update_expr=_merge(F.col(STATE), F.col(MSG)),
            comparison=_differ,
            max_iterations=self.max_iterations,
            carry_columns=[],
        )
        return pregel.run(graph).select(ID, F.col(STATE).alias("distances"))

    def run_exploded(self, g: Graph) -> DataFrame:
        return self.run(g).select(
            ID, F.explode("distances").alias(LANDMARK, DISTANCE)
        )
