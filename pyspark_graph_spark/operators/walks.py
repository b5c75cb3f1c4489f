"""Deterministic random walks — the corpus generator for node2vec/DeepWalk
embedding pipelines.

Each (start vertex, walk index) pair yields one walk: at step t the next
vertex is ``adjacent[xxhash64(walk_id, t, seed) mod degree]`` — a pure
function of (graph, seed), so corpora are reproducible across runs,
retries, and cluster layouts (a property actual randomness loses the moment
a task retries). Walks that reach a vertex with no out-neighbors end early.

Per step: one join of the active walks against the checkpointed adjacency
table + row-local next-vertex selection. State is (walk_id, current, path);
paths grow to ``length`` entries, so memory is O(active walks × length).

Scale: the step join shuffles active walks on the current vertex; adjacency
is checkpointed once. Hub-heavy graphs skew the join — AQE handles moderate
skew; for power-law graphs cap stored adjacency (sample neighbors) as in
any industrial node2vec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import ADJ, DST, ID, SRC
from pyspark_graph_spark.functions.hashing import md5_hash60_concat
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.util import (
    checkpoint_observed,
    driver_finish,
    int_columns,
)


def _batch_walks_md5(length: int, walks_per_vertex: int, seed: int):
    """The md5-mode walk loop in the driver (``util.driver_finish``):
    every step is a pure function of (graph, seed) via
    md5_hash60_concat — hashlib.md5 over the identical comma-joined
    string replays it bit for bit, the adjacency arrays are the same
    sorted distinct neighbor sets, and pmod of the 60-bit nonnegative
    hash equals Python %. Batch == distributed by construction."""

    def kern(v_pdf, e_pdf):
        import hashlib

        import pandas as pd

        def h60(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        adj: dict[int, list[int]] = {}
        for s, d in zip(e_pdf["src"], e_pdf["dst"]):
            adj.setdefault(int(s), set()).add(int(d))
        adj = {k: sorted(v) for k, v in adj.items()}
        wids, starts, paths = [], [], []
        for v in sorted(int(x) for x in v_pdf[ID]):
            for wi in range(walks_per_vertex):
                wid = h60(f"{v},{wi},{seed}")
                path = [v]
                cur = v
                for step in range(1, length):
                    nbrs = adj.get(cur)
                    if not nbrs:
                        break
                    cur = nbrs[h60(f"{wid},{step},{seed}") % len(nbrs)]
                    path.append(cur)
                wids.append(wid)
                starts.append(v)
                paths.append(path)
        return pd.DataFrame(
            {"walk_id": wids, "start": starts, "path": paths}
        )

    return kern


class RandomWalks:
    def __init__(
        self,
        length: int = 10,
        walks_per_vertex: int = 1,
        seed: int = 42,
        hash_mode: str = "xxhash64",
        batch_finish: int = 1_000_000,
    ):
        if length < 1:
            raise ValueError("length must be >= 1")
        if hash_mode not in ("xxhash64", "md5"):
            raise ValueError("hash_mode must be 'xxhash64' or 'md5'")
        self.length = length
        self.walks_per_vertex = walks_per_vertex
        self.seed = seed
        # "md5" swaps the step-selection hash for the cross-engine
        # md5-60-bit variant so an external SQL oracle can replay the
        # exact same walks; xxhash64 stays the (faster) default.
        self.hash_mode = hash_mode
        # md5-mode walks below the bound run in the driver
        # (_batch_walks_md5); xxhash64 mode and larger graphs keep the
        # per-step distributed loop. 0 disables.
        self.batch_finish = batch_finish

    def _h(self, *cols):
        cols = [F.col(c) if isinstance(c, str) else c for c in cols]
        if self.hash_mode == "xxhash64":
            return F.xxhash64(*cols)
        return md5_hash60_concat(*cols)

    def run(self, g: Graph) -> DataFrame:
        """(walk_id, start, path array<long>) — one row per walk."""
        if (
            self.hash_mode == "md5"
            and int_columns(g.vertices, ID)
            and int_columns(g.edges, SRC, DST)
        ):
            # symmetric_edges, not 2 x |edges|: it is an identity
            # projection for graphs that already store both directions
            out = driver_finish(
                self.batch_finish,
                _batch_walks_md5(
                    self.length, self.walks_per_vertex, self.seed
                ),
                "walk_id long, start long, path array<long>",
                g.vertices.select(ID),
                g.symmetric_edges.select(SRC, DST),
            )
            if out is not None:
                return out
        adj = g.adjacency.filter(F.size(ADJ) > 0).localCheckpoint()

        starts = g.vertices.select(ID)
        idx = F.explode(
            F.sequence(F.lit(0), F.lit(self.walks_per_vertex - 1))
        ).alias("__w")
        active = starts.select(ID, idx).select(
            self._h(ID, F.col("__w"), F.lit(self.seed)).alias("walk_id"),
            F.col(ID).alias("start"),
            F.col(ID).alias("__cur"),
            F.array(ID).alias("path"),
        ).localCheckpoint()
        finished = []

        for step in range(1, self.length):
            joined = active.join(
                adj.withColumnsRenamed({ID: "__cur", ADJ: "__nbrs"}),
                on="__cur",
                how="left",
            )
            nxt = F.get(
                F.col("__nbrs"),
                F.pmod(
                    self._h("walk_id", F.lit(step), F.lit(self.seed)),
                    F.size("__nbrs"),
                ).cast("int"),
            )
            # one checkpoint carries BOTH outcomes of the step (round 12,
            # guide §2.4): ended walks keep their path with __cur = NULL,
            # live walks append the selected hop — the step join executes
            # ONCE per round instead of twice (the previous shape
            # materialized `ended` and `active` as two separate
            # checkpoints, each re-running the same join), and the ended
            # rows are split off the materialized frame by a cheap filter.
            # Row content is expression-identical, so walks are unchanged.
            # the live-walk probe rides the checkpoint job itself
            # (round 12, checkpoint_observed) instead of a second action
            stepped, m = checkpoint_observed(
                joined.select(
                    "walk_id",
                    "start",
                    F.when(F.col("__nbrs").isNotNull(), nxt).alias("__cur"),
                    F.when(
                        F.col("__nbrs").isNotNull(),
                        F.array_append("path", nxt),
                    )
                    .otherwise(F.col("path"))
                    .alias("path"),
                ),
                __live=F.sum(F.col("__cur").isNotNull().cast("long")),
            )
            finished.append(
                stepped.filter(F.col("__cur").isNull()).select(
                    "walk_id", "start", "path"
                )
            )
            active = stepped.filter(F.col("__cur").isNotNull())
            if not m["__live"]:
                break
        out = active.select("walk_id", "start", "path")
        for f in finished:
            out = out.unionByName(f)
        return out


class Node2VecWalks(RandomWalks):
    """Second-order (node2vec) biased walks, deterministic and integer-
    weighted.

    Grover & Leskovec's search bias weights the next hop by where it sits
    relative to the PREVIOUS vertex: ``w_return`` for stepping back,
    ``w_common`` for a neighbor shared with the previous vertex (BFS-ish),
    ``w_far`` for everything else (DFS-ish) — these are the un-normalized
    1/p, 1, 1/q, kept as integers so the cumulative-weight selection is
    exact integer arithmetic and an external SQL oracle can replay every
    step bit-for-bit (float-weighted sampling would hinge on cross-engine
    float comparisons).

    Selection: ``r = hash(walk_id, step, seed) mod totalweight``; the hop
    is the first neighbor whose cumulative weight exceeds r, computed with
    an ``aggregate`` fold over the (sorted, deterministic) adjacency array
    — row-local, no extra shuffle beyond RandomWalks' per-step adjacency
    join plus one more join for the previous vertex's neighbor set. The
    first step (no previous vertex) is uniform, matching RandomWalks.
    """

    def __init__(
        self,
        length: int = 10,
        walks_per_vertex: int = 1,
        seed: int = 42,
        hash_mode: str = "xxhash64",
        w_return: int = 1,
        w_common: int = 2,
        w_far: int = 4,
    ):
        super().__init__(length, walks_per_vertex, seed, hash_mode)
        if min(w_return, w_common, w_far) < 1:
            raise ValueError("weights must be positive integers")
        self.w_return = int(w_return)
        self.w_common = int(w_common)
        self.w_far = int(w_far)

    def run(self, g: Graph) -> DataFrame:
        adj = g.adjacency.filter(F.size(ADJ) > 0).localCheckpoint()

        starts = g.vertices.select(ID)
        idx = F.explode(
            F.sequence(F.lit(0), F.lit(self.walks_per_vertex - 1))
        ).alias("__w")
        active = starts.select(ID, idx).select(
            self._h(ID, F.col("__w"), F.lit(self.seed)).alias("walk_id"),
            F.col(ID).alias("start"),
            F.lit(None).cast("long").alias("__prev"),
            F.col(ID).alias("__cur"),
            F.array(ID).alias("path"),
        ).localCheckpoint()
        finished = []

        empty = F.array().cast("array<bigint>")
        for step in range(1, self.length):
            # same single-checkpoint step fusion as RandomWalks.run
            # (round 12, guide §2.4): ended and live walks ride ONE
            # materialized frame, so the two adjacency joins execute
            # once per step instead of twice. A NULL __prev / ended row
            # passes the prev-neighbor left join unmatched, exactly as
            # the filtered shape never joined it — values identical.
            live = active.join(
                adj.withColumnsRenamed({ID: "__cur", ADJ: "__nbrs"}),
                on="__cur",
                how="left",
            ).join(
                adj.withColumnsRenamed({ID: "__prev", ADJ: "__pnbrs"}),
                on="__prev",
                how="left",
            )
            pn = F.coalesce(F.col("__pnbrs"), empty)
            weights = F.when(
                F.col("__prev").isNull(),
                F.transform(
                    F.col("__nbrs"), lambda c: F.lit(1).cast("long")
                ),
            ).otherwise(
                F.transform(
                    F.col("__nbrs"),
                    lambda c: F.when(
                        c == F.col("__prev"),
                        F.lit(self.w_return).cast("long"),
                    )
                    .when(
                        F.array_contains(pn, c),
                        F.lit(self.w_common).cast("long"),
                    )
                    .otherwise(F.lit(self.w_far).cast("long")),
                )
            )
            live = live.withColumn("__wt", weights).withColumn(
                "__r",
                F.pmod(
                    self._h("walk_id", F.lit(step), F.lit(self.seed)),
                    F.aggregate(
                        "__wt", F.lit(0).cast("long"), lambda a, x: a + x
                    ),
                ),
            )
            sel = F.aggregate(
                F.col("__wt"),
                F.struct(
                    F.lit(0).cast("long").alias("cum"),
                    F.lit(-1).alias("sel"),
                    F.lit(0).alias("idx"),
                ),
                lambda acc, w: F.struct(
                    (acc["cum"] + w).alias("cum"),
                    F.when(acc["sel"] >= 0, acc["sel"])
                    .when(acc["cum"] + w > F.col("__r"), acc["idx"])
                    .otherwise(F.lit(-1))
                    .alias("sel"),
                    (acc["idx"] + 1).alias("idx"),
                ),
            )["sel"]
            nxt = F.get(F.col("__nbrs"), sel)
            alive = F.col("__nbrs").isNotNull()
            # live-walk probe folded into the checkpoint job (round 12)
            stepped, m = checkpoint_observed(
                live.select(
                    "walk_id",
                    "start",
                    F.when(alive, F.col("__cur")).alias("__prev"),
                    F.when(alive, nxt).alias("__cur"),
                    F.when(alive, F.array_append("path", nxt))
                    .otherwise(F.col("path"))
                    .alias("path"),
                ),
                __live=F.sum(F.col("__cur").isNotNull().cast("long")),
            )
            finished.append(
                stepped.filter(F.col("__cur").isNull()).select(
                    "walk_id", "start", "path"
                )
            )
            active = stepped.filter(F.col("__cur").isNotNull())
            if not m["__live"]:
                break
        out = active.select("walk_id", "start", "path")
        for f in finished:
            out = out.unionByName(f)
        return out
