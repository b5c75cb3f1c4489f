"""Connected components — Pregel min-label propagation and alternating stars.

Two implementations, as in the reference (connected_components.py:18-92):

- :class:`ConnectedComponents` — Pregel min-label flood. Simple; rounds
  proportional to component diameter. Both directions are always messaged:
  min-label along out-edges only computes neither weakly- nor
  strongly-connected components (the reference's docstring claims SCC for
  directed graphs — reference connected_components.py:19-21 — which is
  wrong; we compute **weakly** connected components for any graph).
- :class:`AlternatingConnectedComponents` — the large-star/small-star
  alternation of Kiveris et al., "Connected Components in MapReduce and
  Beyond" (SOCC'14). O(log n) rounds independent of diameter — this is the
  100 TB-scale implementation. Each star takes per-vertex minima with a
  hash aggregate and joins them back to the edges (broadcast while they
  fit ``spark.sql.autoBroadcastJoinThreshold``), so a round sorts nothing
  and shuffles the edge list once, to dedup it before its checkpoint.
  Convergence is a fingerprint probe on the checkpointed edge list:
  ``bit_xor`` of per-row hashes plus a row count. (A plain sum of 64-bit
  hash ids would overflow; XOR is the overflow-free multiset fingerprint —
  do not "simplify" it back to sum.)

Both return ``(id, component)`` where ``component`` is the minimum vertex id
in the component; isolated vertices are their own component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, MSG, SRC, STATE
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.operators.pregel import Pregel
from pyspark_graph_spark.util import (
    arrays,
    broadcast_if_small,
    checkpoint_observed,
    fetch_bounded,
    fetch_bounded_all,
    fetch_tagged,
    int_columns,
    positions,
)

COMPONENT = "component"


def _min_label_kernel(ids, src, dst, max_iterations: int):
    """Min-label propagation replayed in the driver: per round every
    vertex takes the min of its own label and its neighbors' (full
    messaging is value-identical to the Pregel's frontier messaging — a
    sender's label was already delivered in the round after it last
    changed), with the same round budget and the same stop-on-no-change
    probe. Labels are exact integers, so
    batch == Pregel bit for bit, INCLUDING truncated labellings when the
    budget runs out. Edges with an endpoint outside the vertex table
    relay nothing, exactly like the Pregel state join. Returns
    ``(ids, labels, rounds, converged)``."""
    import numpy as np

    ids = np.sort(ids)
    s_idx, s_ok = positions(ids, src)
    d_idx, d_ok = positions(ids, dst)
    ok = s_ok & d_ok
    s_idx, d_idx = s_idx[ok], d_idx[ok]
    label = ids.copy()
    rounds = 0
    converged = False
    while rounds < max_iterations:
        new = label.copy()
        np.minimum.at(new, d_idx, label[s_idx])
        np.minimum.at(new, s_idx, label[d_idx])
        rounds += 1
        if np.array_equal(new, label):
            converged = True
            break
        label = new
    return ids, label, rounds, converged


def _local_components(spark, ids, labels) -> DataFrame:
    import pyarrow as pa

    return spark.createDataFrame(pa.table({ID: ids, COMPONENT: labels}))


class ConnectedComponents:
    """Weakly connected components via Pregel min-label propagation.

    ``salt_buckets`` passes through to Pregel's skew-salted message join
    (use on power-law graphs where hub vertices dominate a partition).

    ``require_convergence`` (default True): min-label needs rounds
    proportional to component diameter, so a truncated run silently
    SPLITS any component whose diameter exceeds ``max_iterations`` —
    a wrong answer, not a slow one (r9 verdict #4; same failure class
    SCC's floods already guard, operators/scc.py). Pass False only when
    a truncated labelling is genuinely acceptable; the scale-correct
    alternative for unknown diameters is
    :class:`AlternatingConnectedComponents`, whose O(log n) fixpoint is
    diameter-independent.

    ``batch_finish``: while vertices + edges fit this many rows, both are
    fetched in one limited Arrow collect and the same rounds replay in
    numpy in the driver (``_min_label_kernel``); 0 disables."""

    def __init__(
        self,
        max_iterations: int = 20,
        salt_buckets: int | None = None,
        require_convergence: bool = True,
        batch_finish: int = 1_000_000,
    ):
        self.max_iterations = max_iterations
        self.salt_buckets = salt_buckets
        self.require_convergence = require_convergence
        self.batch_finish = batch_finish

    def _run_batch(self, g: Graph):
        """The driver finish while vertices + edges fit ``batch_finish``;
        None above it."""
        import numpy as np

        verts = g.vertices.select(ID)
        edges = g.edges.select(SRC, DST)
        if not (
            self.batch_finish
            and int_columns(verts, ID)
            and int_columns(edges, SRC, DST)
        ):
            return None
        t = fetch_bounded_all(self.batch_finish, edges, verts)
        if t is None:
            return None
        e = arrays(t[0], **{SRC: np.int64, DST: np.int64})
        v = arrays(t[1], **{ID: np.int64})
        if e is None or v is None:
            return None
        ids, labels, self.rounds_run, converged = _min_label_kernel(
            v[ID], e[SRC], e[DST], self.max_iterations
        )
        self._check_converged(converged)
        return _local_components(g.vertices.sparkSession, ids, labels)

    def _check_converged(self, converged: bool) -> None:
        if self.require_convergence and not converged:
            raise RuntimeError(
                "ConnectedComponents hit max_iterations="
                f"{self.max_iterations} before the min-label fixpoint — "
                "a component with diameter beyond the budget would get "
                "silently split labels. Raise max_iterations, use "
                "AlternatingConnectedComponents (diameter-independent), "
                "or pass require_convergence=False to accept truncation."
            )

    def run(self, g: Graph) -> DataFrame:
        out = self._run_batch(g)
        if out is not None:
            return out
        # slim the graph to (id) and (src, dst): vertex attributes and
        # edge columns would otherwise ride through the Pregel's edge
        # checkpoints and every per-round shuffle
        slim = Graph(
            g.vertices.select(ID),
            g.edges.select(SRC, DST),
            directed=g.directed,
            indexed=True,
        )
        pregel = Pregel(
            initial_state=F.col(ID),
            agg_expr=F.min(MSG),
            msg_to_dst=F.col(STATE),
            msg_to_src=F.col(STATE),  # always both ways: weak components
            update_expr=F.least(F.col(STATE), F.col(MSG)),
            max_iterations=self.max_iterations,
            salt_buckets=self.salt_buckets,
        )
        out = pregel.run(slim).select(ID, F.col(STATE).alias(COMPONENT))
        self.rounds_run = pregel.rounds_run
        self._check_converged(pregel.converged)
        return out


def _vertex_min(edges: DataFrame) -> DataFrame:
    """``(src, __m)``: the smallest ``dst`` of every ``src``, checkpointed
    with its row count observed, and broadcast while that fits."""
    mins, m = checkpoint_observed(
        edges.groupBy(SRC).agg(F.min(DST).alias("__m")),
        __n=F.count(F.lit(1)),
    )
    return broadcast_if_small(mins, m["__n"])


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to m(u)=min(Γ(u) ∪ {u}).

    Neighborhoods are taken over both directions (input is symmetrized here
    because small-star emits oriented edges). The output may repeat an
    edge: the round's small star dedups."""
    sym = edges.unionByName(
        edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    )
    return (
        sym.filter(F.col(DST) > F.col(SRC))
        .join(_vertex_min(sym), on=SRC)
        .select(
            F.col(DST).alias(SRC), F.least("__m", F.col(SRC)).alias(DST)
        )
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large→small, then connect u and all its (smaller)
    neighbors to its minimum neighbor. The one dedup of the round."""
    oriented = edges.select(
        F.greatest(SRC, DST).alias(SRC), F.least(SRC, DST).alias(DST)
    ).filter(F.col(SRC) != F.col(DST))
    mins = _vertex_min(oriented)
    # neighbors v (all < u) point at m ...
    nbrs = oriented.join(mins, on=SRC).select(
        F.col(DST).alias(SRC), F.col("__m").alias(DST)
    )
    # ... and u itself points at m
    return (
        nbrs.filter(F.col(SRC) != F.col(DST))
        .unionByName(mins.select(SRC, F.col("__m").alias(DST)))
        .distinct()
    )


def _fingerprint() -> dict:
    return {
        "__x": F.bit_xor(F.xxhash64(SRC, DST)),
        "__n": F.count(F.lit(1)),
    }


def _reproduces(pairs: DataFrame, fingerprint) -> bool:
    """Whether the deduped ``pairs`` have ``fingerprint``: whether a first
    round over them left them as they were. A round's edges all point
    down (src > dst), so while one pair points up it cannot have; only
    otherwise are the pairs deduped and fingerprinted."""
    if not pairs.filter(F.col(SRC) < F.col(DST)).isEmpty():
        return False
    row = pairs.distinct().agg(*_fingerprint().values()).first()
    return (row[0], row[1]) == fingerprint


def _with_unlabelled(verts: DataFrame, membership: DataFrame) -> DataFrame:
    """``membership`` plus every vertex it does not label, as its own
    component (roots and isolated vertices)."""
    roots_and_isolated = (
        verts.join(membership.select(ID), on=ID, how="anti")
        .withColumn(COMPONENT, F.col(ID))
    )
    return membership.unionByName(roots_and_isolated)


def _batch_union_find(src, dst):
    """``(ids, component)`` int64 arrays from the (src, dst) pair arrays:
    component = min member id for every vertex in the pairs' support.

    Union-by-min, vectorized: every round hooks the larger root of each
    edge under the smaller one, then pointer-jumps every vertex to its
    root, until both ends of every edge share a root. A vertex only ever
    points at a smaller id in its own component, so each root is its
    component's minimum id — exactly the representative the
    large-star/small-star fixpoint converges to (Kiveris et al.: stars
    point at component minima). Shared by AlternatingCC's driver finish
    and BoruvkaMST's contraction."""
    import numpy as np

    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src):]
    root = np.arange(len(ids))
    while True:
        lo = np.minimum(root[s], root[d])
        np.minimum.at(root, root[s], lo)
        np.minimum.at(root, root[d], lo)
        while True:
            up = root[root]
            if np.array_equal(up, root):
                break
            root = up
        if np.array_equal(root[s], root[d]):
            return ids, ids[root]


class AlternatingConnectedComponents:
    """Large-star/small-star alternating connected components (Kiveris et al.).

    ``batch_finish``: while the loop-free edge list fits this bound, the
    driver fetches it with one limited Arrow collect and labels components
    with a union-find instead of the O(log n) alternating-star fixpoint —
    provably identical output (both paths label every component by its
    minimum id; equality is pinned by test), and no ``rounds_run``. The
    vertex table rides the same collect while edges + vertices fit;
    otherwise, unless the pairs alone filled that collect, they are
    fetched alone, and if they fit the unlabelled vertices come from a
    Spark anti-join. Above the bound the distributed fixpoint runs, its
    first round straight from the loop-free pairs, and after any round
    whose live edge list fits the bound the driver union-find finishes
    the contraction tail, fetched with the vertex table the same way. 1M
    edges x 16 B ≈ 16 MB in the driver. 0 disables; the distributed
    fixpoint remains the asymptotic path for billion-edge graphs."""

    def __init__(
        self,
        max_iterations: int = 20,
        batch_finish: int = 1_000_000,
        require_convergence: bool = True,
    ):
        self.max_iterations = max_iterations
        self.batch_finish = batch_finish
        # post-fixpoint the edge list is a star forest; reading it as a
        # membership table BEFORE the fixpoint is reached returns garbage
        # labels, not merely coarse ones — so truncation must be loud,
        # the same contract Pregel CC and the SCC floods carry. O(log n)
        # alternation makes 20 rounds enough for ~10^6-diameter inputs;
        # the guard exists for the day that stops being true.
        self.require_convergence = require_convergence

    def _finish(self, g: Graph, pairs, verts=None):
        """Labels from a fetched loop-free edge table by the driver
        union-find. As in the distributed read, an edge vertex is labelled
        by its component's minimum and every vertex no edge labels (roots,
        isolated vertices) labels itself — in the driver when the vertex
        table was fetched too (``verts``), else by a Spark anti-join
        against a local membership table."""
        import numpy as np

        t = arrays(pairs, **{SRC: np.int64, DST: np.int64})
        ids, comp = _batch_union_find(t[SRC], t[DST])
        labelled = ids != comp
        ids, comp = ids[labelled], comp[labelled]
        spark = g.vertices.sparkSession
        v = None if verts is None else arrays(verts, **{ID: np.int64})
        if v is None:
            return _with_unlabelled(
                g.vertices.select(ID), _local_components(spark, ids, comp)
            )
        rest = v[ID][~np.isin(v[ID], ids)]
        return _local_components(
            spark, np.concatenate([ids, rest]), np.concatenate([comp, rest])
        )

    def run(self, g: Graph) -> DataFrame:
        pairs = g.edges.select(SRC, DST).filter(F.col(SRC) != F.col(DST))
        verts = g.vertices.select(ID)
        batch = bool(self.batch_finish) and int_columns(pairs, SRC, DST)
        # the vertex table rides each fetch when the kernel can take it
        extra = [verts] if int_columns(verts, ID) else []
        if batch:
            # front path: pairs and vertices fit together in one fetch, so
            # no round runs and no rounds_run is set; if only the pairs
            # fit, the unlabelled vertices come from a Spark anti-join
            front, seen = fetch_tagged(self.batch_finish, pairs, *extra)
            # the pairs alone can fit only if the vertex table supplied
            # some of the bound + 1 rows the joint fetch stopped at
            if front is None and extra and seen[0] <= self.batch_finish:
                front = fetch_bounded(pairs, self.batch_finish)
                front = None if front is None else [front]
            if front is not None:
                return self._finish(g, *front)

        def tail_fits(m) -> bool:
            # contraction tail: once the live edge list fits the bound, the
            # driver union-find finishes it exactly — every round keeps each
            # component's vertices connected and its minimum in place
            return batch and (m["__n"] or 0) <= self.batch_finish

        # order-insensitive content fingerprint; ids span the full 64-bit
        # hash range, so sums would overflow ANSI arithmetic — XOR of row
        # hashes + count is overflow-free. The per-round probe rides each
        # round's own checkpoint job (checkpoint_observed), not a
        # separate action. Round 1 reads the pairs as they are (the stars
        # ignore repeats), so its "previous" fingerprint is the deduped
        # pairs', computed only when it can match (_reproduces).
        edges, fingerprint = pairs, None
        handoff = False
        converged = False
        rounds = 0
        while not handoff and rounds < self.max_iterations:
            edges, m = checkpoint_observed(
                _small_star(_large_star(edges)), **_fingerprint()
            )
            rounds += 1
            new_fingerprint = (m["__x"], m["__n"])
            if new_fingerprint == fingerprint or (
                rounds == 1 and _reproduces(pairs, new_fingerprint)
            ):
                converged = True
                break
            fingerprint = new_fingerprint
            handoff = tail_fits(m)
        self.rounds_run = rounds
        if handoff:
            tail = fetch_bounded_all(self.batch_finish, edges, *extra)
            return self._finish(g, *(tail or [edges.toArrow()]))
        if self.require_convergence and not converged:
            raise RuntimeError(
                "AlternatingConnectedComponents hit max_iterations="
                f"{self.max_iterations} before the star fixpoint — the "
                "edge list is not yet a star forest and reading it as a "
                "membership table would return wrong labels. Raise "
                "max_iterations (rounds are O(log n)), or pass "
                "require_convergence=False to accept truncation."
            )
        # post-fixpoint the edge list is a star forest pointing at roots
        return _with_unlabelled(
            g.vertices.select(ID),
            edges.select(F.col(SRC).alias(ID), F.col(DST).alias(COMPONENT)),
        )
