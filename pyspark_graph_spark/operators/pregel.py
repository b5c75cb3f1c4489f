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
  (util.broadcast_if_small). Salted runs keep one checkpoint per
  direction, partitioned on key and salt.
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
    include_all_in_first_round : bool
        Seed the frontier with every vertex (reference behavior).
    salt_buckets : int | None
        Skew hardening for power-law graphs: a hub sender's edges all hash
        to one partition of the per-superstep message join. With salting,
        each edge carries a salt derived from its *other* endpoint and the
        (small, changing) sender side explodes to every salt, so a hub's
        edge rows spread across ``salt_buckets`` partitions. Messages are
        unchanged (each edge still matches exactly one sender replica) —
        property-tested. Cost: sender state replicated ``salt_buckets``×;
        leave ``None`` unless the degree distribution is heavy-tailed.
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
        salt_buckets: int | None = None,
        auto_extend: bool = False,
        hard_max_iterations: int | None = None,
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
        if salt_buckets is not None and salt_buckets < 2:
            raise ValueError("salt_buckets must be >= 2 (or None)")
        self.salt_buckets = salt_buckets
        # Opt-in resumable budget (r10 verdict #5): when the frontier is
        # still non-empty at max_iterations, CONTINUE from the
        # checkpointed state with a doubled budget instead of forcing the
        # caller into a full restart (state is checkpointed per round, so
        # a diameter-25 graph under max_iterations=20 costs ~25 rounds of
        # work, not 20 + 45). Still bounded: the loop hard-stops at
        # hard_max_iterations (default 8x the initial budget) and leaves
        # self.converged False, so require_convergence callers stay loud.
        self.auto_extend = auto_extend
        if hard_max_iterations is not None and hard_max_iterations < max_iterations:
            raise ValueError("hard_max_iterations must be >= max_iterations")
        self.hard_max_iterations = (
            hard_max_iterations
            if hard_max_iterations is not None
            else (8 * max_iterations if auto_extend else max_iterations)
        )

    # -- messaging ----------------------------------------------------------

    def _messages(
        self,
        edges_by_src: DataFrame | None,
        edges_by_dst: DataFrame | None,
        senders: DataFrame,
        n_senders: int,
    ) -> DataFrame:
        """Build the (id, msg) frame for one superstep.

        ``senders`` is the changed-state frame (id, attrs..., state). Each
        directed edge whose sender endpoint changed emits the message
        expression evaluated over edge ⋈ sender-state columns. Unsalted,
        the senders (``n_senders`` rows) are broadcast to the edges while
        they fit (module note), so the edge table does not move.
        """
        if self.salt_buckets:
            senders = senders.withColumn(
                "__ssalt",
                F.explode(
                    F.sequence(F.lit(0), F.lit(self.salt_buckets - 1))
                ),
            )
        else:
            senders = broadcast_if_small(senders, n_senders)

        def join_on(edges, key):
            cond = edges[key] == senders[ID]
            if self.salt_buckets:
                return edges.join(
                    senders,
                    on=[cond, edges["__salt"] == senders["__ssalt"]],
                )
            return edges.join(senders, on=cond)

        msgs = []
        if self.msg_to_dst is not None:
            edges = edges_by_src
            ctx = join_on(edges, SRC)
            msgs.append(
                ctx.select(edges[DST].alias(ID), self.msg_to_dst.alias(MSG))
            )
        if self.msg_to_src is not None:
            edges = edges_by_dst
            ctx = join_on(edges, DST)
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

    def run(self, g: Graph) -> DataFrame:
        """Returns the vertex table with a final ``state`` column."""
        # the static edge side is materialized once and shared by both
        # message directions. With salting, the salt (derived from the
        # OTHER endpoint, so a hub's edges spread) joins the partitioning
        # key, one checkpoint per direction.
        def prep(key, other):
            e = g.edges
            if self.salt_buckets:
                e = e.withColumn(
                    "__salt",
                    F.pmod(
                        F.xxhash64(F.col(other)), F.lit(self.salt_buckets)
                    ),
                )
                return e.repartition(
                    F.col(key), F.col("__salt")
                ).localCheckpoint()
            return edges

        edges = None if self.salt_buckets else g.edges.localCheckpoint()
        edges_by_src = (
            prep(SRC, DST) if self.msg_to_dst is not None else None
        )
        edges_by_dst = (
            prep(DST, SRC) if self.msg_to_src is not None else None
        )
        state = g.vertices.withColumn(STATE, self.initial_state)
        if self.carry_columns is not None:
            state = state.select(ID, *self.carry_columns, STATE)
        state, m = checkpoint_observed(state, __n=F.count(F.lit(1)))
        changed = state  # every vertex is "changed" before round 1
        n_changed = m["__n"]

        # exposed after run(): False means the loop hit max_iterations with
        # a non-empty changed frontier, i.e. the fixpoint was truncated.
        # Callers whose correctness depends on full convergence (e.g. SCC
        # floods) must check this.
        self.converged = False
        self.rounds_run = 0
        budget = self.max_iterations
        while self.rounds_run < budget:
            agg = self._aggregate(
                self._messages(edges_by_src, edges_by_dst, changed, n_changed)
            )
            # Fused upsert (round 11, guide §2.4): the previous shape was
            # an INNER join to compute updates, then an anti-join + union
            # to fold them back into `state` — two full-vertex shuffles
            # and two localCheckpoint jobs per round. A single LEFT join
            # computes the identical next state in one pass: vertices
            # with no message keep their state (exactly the rows the
            # inner join dropped and the anti-join kept), vertices with a
            # message apply update_expr. `__has_msg` distinguishes "no
            # message" from an aggregated NULL message, preserving the
            # inner-join semantics bit for bit; the changed flag rides
            # the same checkpointed frame, so one job per round replaces
            # two and the anti+union shuffle disappears outright.
            # the convergence probe rides the checkpoint job itself
            # (round 12, guide §2.4 — checkpoint_observed): the previous
            # shape paid one extra isEmpty action per round on the frame
            # it had just materialized. Rows are byte-identical.
            updated, probe = checkpoint_observed(
                state.join(
                    agg.withColumn("__has_msg", F.lit(True)),
                    on=ID,
                    how="left",
                )
                .withColumn(OLD_STATE, F.col(STATE))
                .withColumn("__new_state", self.update_expr)
                .withColumn(
                    "__changed",
                    F.coalesce(F.col("__has_msg"), F.lit(False))
                    & self.comparison(F.col(OLD_STATE), F.col("__new_state")),
                )
                # a messaged-but-unchanged vertex KEEPS its old state row
                # (the anti-join in the previous shape never replaced it),
                # which matters when a lenient custom comparison deems two
                # unequal values "unchanged"
                .withColumn(
                    STATE,
                    F.when(
                        F.col("__changed"), F.col("__new_state")
                    ).otherwise(F.col(STATE)),
                )
                .drop(OLD_STATE, MSG, "__has_msg", "__new_state"),
                __n_changed=F.sum(F.col("__changed").cast("long")),
            )
            changed = updated.filter(F.col("__changed")).drop("__changed")
            state = updated.drop("__changed")
            self.rounds_run += 1
            n_changed = probe["__n_changed"]
            if not n_changed:
                self.converged = True
                break
            if (
                self.rounds_run == budget
                and self.auto_extend
                and budget < self.hard_max_iterations
            ):
                # continuation, not restart: state/changed are already
                # checkpointed, the next round picks up the live frontier
                budget = min(2 * budget, self.hard_max_iterations)
        return state
