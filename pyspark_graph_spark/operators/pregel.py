"""Pregel: bulk-synchronous vertex-centric iteration on DataFrames.

Semantics of reference pregel.py:11-90 — per superstep, *changed* vertices
send message expressions along their edges (``msg_to_dst`` evaluated with the
sender = edge source, ``msg_to_src`` with the sender = edge destination);
messages are aggregated per receiving vertex; receivers update state; the
loop converges when no state changed (null-safe ``!=``) or at
``max_iterations``.

Physical redesign for scale (the reference's biggest flaw, SURVEY.md §3b):

- **``localCheckpoint`` per superstep.** The reference keeps the whole
  lineage, so superstep *i* re-executes supersteps *1..i-1* — O(rounds²)
  total work and unbounded plan growth. We truncate lineage every round;
  per-round cost is constant and the convergence probe (``isEmpty``) reads
  checkpointed partitions only.
- **Frontier messaging kept** (only changed vertices send — algorithmic
  pruning the reference also does).
- **Vertex state moves to the edges** (GraphX, OSDI 2014). Both message
  directions scan one edge checkpoint; the changed senders, counted on
  the previous round's checkpoint, are broadcast to it while they fit
  (util.broadcast_if_small). Above the threshold the plain join runs,
  and AQE's skew-join splitting spreads a hub's edge rows.
- **One plan per superstep.** Round 0's checkpoint has the columns,
  types and nullability of every later round's (util.round_zero), and
  every round's senders are the changed rows of the last checkpoint, so
  Spark compiles a round's code once per session, not again for round 2.
- **``unionByName`` upsert** — the reference's positional union
  (pregel.py:68) silently depends on column order.

The aggregation accepts either a Column aggregate expression over the ``msg``
column (e.g. ``F.min``) or a callable ``DataFrame -> DataFrame`` mapping the
raw message frame ``(id, msg)`` to an aggregated ``(id, msg)`` — needed for
aggregates that are not single expressions (e.g. deterministic mode, used by
label propagation).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import (
    DST,
    ID,
    MSG,
    OLD_STATE,
    SRC,
    STATE,
)
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.util import (
    broadcast_if_small,
    checkpoint_observed,
    ne_null_safe,
    round_zero,
)


class Pregel:
    """BSP vertex-program runner.

    Parameters
    ----------
    initial_state : Column
        Evaluated over the vertex table to seed ``state``.
    agg_expr : Column | Callable[[DataFrame], DataFrame]
        Aggregate over the ``msg`` column (Column form), or a function
        reducing the message frame ``(id, msg)`` to one row per id.
    msg_to_dst / msg_to_src : Column | None
        Message expressions. For ``msg_to_dst`` the evaluation context is the
        edge row joined with the *source* vertex's state row (columns: edge
        attrs + vertex attrs + ``state``); the message is delivered to the
        edge destination. ``msg_to_src`` is the mirror image.
    update_expr : Column
        New state from ``state`` (current) and ``msg`` (aggregated);
        default = ``msg``.
    comparison : Callable[[Column, Column], Column]
        Change detector between old and new state; default null-safe ``!=``.
    max_iterations : int
    carry_columns : list[str] | None
        Vertex columns kept in the iterated state besides ``id`` and
        ``state``; None keeps all. Every vertex sends in round 1.
    """

    def __init__(
        self,
        initial_state: Column,
        agg_expr: Column | Callable[[DataFrame], DataFrame],
        msg_to_dst: Column | None = None,
        msg_to_src: Column | None = None,
        update_expr: Column | None = None,
        comparison: Callable[[Column, Column], Column] = ne_null_safe,
        max_iterations: int = 10,
        carry_columns: list[str] | None = None,
    ):
        if msg_to_dst is None and msg_to_src is None:
            raise ValueError("at least one of msg_to_dst/msg_to_src required")
        self.initial_state = initial_state
        self.agg_expr = agg_expr
        self.msg_to_dst = msg_to_dst
        self.msg_to_src = msg_to_src
        self.update_expr = update_expr if update_expr is not None else F.col(MSG)
        self.comparison = comparison
        self.max_iterations = max_iterations
        # vertex columns to keep in the iterated state besides id+state;
        # None keeps all (reference behavior). Seed columns used only by
        # initial_state should NOT ride through every per-round shuffle —
        # pass carry_columns=[] to shed them after initialization.
        self.carry_columns = carry_columns

    # -- messaging ----------------------------------------------------------

    def _messages(
        self, edges: DataFrame, senders: DataFrame, n_senders: int
    ) -> DataFrame:
        """Build the (id, msg) frame for one superstep.

        ``senders`` is the changed-state frame (id, attrs..., state). Each
        directed edge whose sender endpoint changed emits the message
        expression evaluated over edge ⋈ sender-state columns. The senders
        (``n_senders`` rows) are broadcast to the edges while they fit
        (module note), so the edge table does not move.
        """
        senders = broadcast_if_small(senders, n_senders)
        msgs = []
        if self.msg_to_dst is not None:
            ctx = edges.join(senders, on=edges[SRC] == senders[ID])
            msgs.append(
                ctx.select(edges[DST].alias(ID), self.msg_to_dst.alias(MSG))
            )
        if self.msg_to_src is not None:
            ctx = edges.join(senders, on=edges[DST] == senders[ID])
            msgs.append(
                ctx.select(edges[SRC].alias(ID), self.msg_to_src.alias(MSG))
            )
        out = msgs[0]
        for m in msgs[1:]:
            out = out.unionByName(m)
        return out

    def _aggregate(self, messages: DataFrame) -> DataFrame:
        if callable(self.agg_expr) and not isinstance(self.agg_expr, Column):
            return self.agg_expr(messages)
        return messages.groupBy(ID).agg(self.agg_expr.alias(MSG))

    # -- main loop ----------------------------------------------------------

    def _round(
        self, edges: DataFrame, updated: DataFrame, n_changed
    ) -> DataFrame:
        """The next ``(id, ..., state, __changed)`` frame from this one.

        One LEFT join computes the next state in one pass, one vertex
        shuffle and one checkpoint job per round: vertices with no message
        keep their state, vertices with a message apply update_expr.
        ``__has_msg`` tells "no message" from an aggregated NULL message,
        so an update applies exactly where an inner join with the messages
        would match. The changed flag rides the same frame, and the
        convergence probe rides its checkpoint job (checkpoint_observed).
        """
        state = updated.drop("__changed")
        changed = updated.filter(F.col("__changed")).drop("__changed")
        agg = self._aggregate(self._messages(edges, changed, n_changed))
        return (
            state.join(
                agg.withColumn("__has_msg", F.lit(True)), on=ID, how="left"
            )
            .withColumn(OLD_STATE, F.col(STATE))
            .withColumn("__new_state", self.update_expr)
            .withColumn(
                "__changed",
                F.coalesce(F.col("__has_msg"), F.lit(False))
                & self.comparison(F.col(OLD_STATE), F.col("__new_state")),
            )
            # a messaged-but-unchanged vertex KEEPS its old state row,
            # which matters when a lenient custom comparison deems two
            # unequal values "unchanged"
            .withColumn(
                STATE,
                F.when(F.col("__changed"), F.col("__new_state")).otherwise(
                    F.col(STATE)
                ),
            )
            .drop(OLD_STATE, MSG, "__has_msg", "__new_state")
        )

    def run(self, g: Graph) -> DataFrame:
        """Returns the vertex table with a final ``state`` column."""
        # the static edge side is materialized once and scanned by both
        # message directions
        edges = g.edges.localCheckpoint()
        seed = g.vertices.withColumn(STATE, self.initial_state)
        if self.carry_columns is not None:
            seed = seed.select(ID, *self.carry_columns, STATE)
        # every vertex is "changed" before round 1; round 0 is typed as
        # every later round's frame, so all rounds run one plan
        updated, m = checkpoint_observed(
            round_zero(
                seed.withColumn("__changed", F.lit(True)),
                lambda u: self._round(edges, u, None),
            ),
            __n=F.count(F.lit(1)),
        )
        n_changed = m["__n"]

        # exposed after run(): False means the loop hit max_iterations with
        # a non-empty changed frontier, i.e. the fixpoint was truncated.
        # Callers whose correctness depends on full convergence (e.g. SCC
        # floods) must check this.
        self.converged = False
        self.rounds_run = 0
        while self.rounds_run < self.max_iterations:
            updated, probe = checkpoint_observed(
                self._round(edges, updated, n_changed),
                __n_changed=F.sum(F.col("__changed").cast("long")),
            )
            self.rounds_run += 1
            n_changed = probe["__n_changed"]
            if not n_changed:
                self.converged = True
                break
        return updated.drop("__changed")
