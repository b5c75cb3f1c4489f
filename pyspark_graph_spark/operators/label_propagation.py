"""Label propagation community detection (reference label_propagation.py:11-35).

State = label (user column or vertex id); each round every changed vertex
sends its label both ways along its edges and every receiving vertex adopts
the most frequent incoming label. The reference aggregates with Spark's
``mode()``, whose tie-breaking is nondeterministic (partition-order
dependent); we aggregate with an explicit two-level count and break ties on
the **smallest label**, so results are reproducible and oracle-comparable.

The deterministic mode is supplied to Pregel as a callable aggregation:
``(id, msg) -> (id, msg)`` via count-per-label + ``max_by`` over
``(count, -label)`` — all built-in JVM aggregates. The messages are
hash-partitioned on ``id`` once, which both aggregates' groupings share,
so a round shuffles its messages once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, MSG, SRC, STATE
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.operators.pregel import Pregel

LABEL = "label"


def deterministic_mode(messages: DataFrame) -> DataFrame:
    """Most frequent ``msg`` per ``id``; ties -> smallest ``msg``."""
    # one exchange on id serves the (id, msg) and the id grouping alike
    counts = (
        messages.repartition(ID)
        .groupBy(ID, MSG)
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return counts.groupBy(ID).agg(
        F.max_by(MSG, F.struct(F.col("__n"), F.negative(MSG))).alias(MSG)
    )


class LabelPropagation:
    """Returns ``(id, label)``. Labels seed from ``label_column`` (or id)."""

    def __init__(self, label_column: str | None = None, max_iterations: int = 10):
        self.label_column = label_column
        self.max_iterations = max_iterations

    def run(self, g: Graph) -> DataFrame:
        # slim state: keep only id (+ the seed column if any) out of the
        # per-round shuffles, and only (src, dst) out of the Pregel's edge
        # checkpoints — messages read nothing but the sender's state
        keep = [ID] + ([self.label_column] if self.label_column else [])
        slim = Graph(
            g.vertices.select(*keep),
            g.edges.select(SRC, DST),
            directed=g.directed,
            indexed=True,
        )
        initial = (
            F.col(self.label_column) if self.label_column else F.col(ID)
        )
        pregel = Pregel(
            initial_state=initial,
            agg_expr=deterministic_mode,
            msg_to_dst=F.col(STATE),
            msg_to_src=F.col(STATE),  # community structure is undirected
            max_iterations=self.max_iterations,
        )
        return pregel.run(slim).select(ID, F.col(STATE).alias(LABEL))
