"""Temporal joins: as-of (nearest prior event) and point-in-interval range join.

Neither exists in the reference (aktungmak/pyspark-graph has no temporal
operators); both are standard time-series/feature-pipeline primitives and are
implemented Spark-first:

``as_of_join`` uses the union-and-fill formulation rather than a join: tag the
two streams, union them, and per key let every left row pick up the most
recent right payload with ``last(..., ignorenulls=True)`` over an ordered
window. One shuffle on the key, no join explosion, no per-row range probing —
at 100 TB this is a single hash-partition by key + per-partition sort,
which is exactly the minimum work the semantics allow. A naive
``left.join(right, key).filter(r.ts <= l.ts)`` would materialize
O(|matches|²) pairs per key before the argmax; this never builds pairs.

``range_join_points_intervals`` joins points to intervals WITHOUT an equi
key by time-binning: an interval [s, e) is exploded to every bin of width
``bin_seconds`` it overlaps; a point belongs to exactly one bin, so the
equi-join on bin meets each (point, interval) candidate pair exactly once
(no post-join dedup) and the exact containment predicate filters bin-mates
that don't truly overlap. Shuffle is on the bin key — bounded fan-out of
ceil(len/bin)+1 copies per interval — instead of the cartesian product a
pure theta-join would cost. Bin width should be on the order of the typical
interval length (wider: more false bin-mates filtered late; narrower: more
interval copies shuffled).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark_graph_spark.util import checkpoint_observed, driver_finish


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    tolerance: str | None = None,
    right_prefix: str = "r_",
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right_ts`` <= ``left_ts`` within the same key group (backward as-of,
    inclusive ties), or nulls if none (left-outer semantics).

    ``tolerance`` is a Spark interval literal body (e.g. ``"2 HOURS"``);
    matches older than ``left_ts - tolerance`` are nulled out.

    Right rows are first deduplicated to one per (key, right_ts) —
    deterministically, keeping the row with the greatest payload tuple in
    column order — so the result is reproducible when the right stream has
    timestamp collisions.
    """
    keys = [on] if isinstance(on, str) else list(on)
    payload = [c for c in right.columns if c not in {*keys, right_ts}]
    out_cols = [right_prefix + right_ts] + [right_prefix + c for c in payload]

    w_dedup = Window.partitionBy(*keys, right_ts).orderBy(
        *[F.col(c).desc() for c in payload] or [F.lit(1)]
    )
    r_uniq = (
        right.withColumn("__rn", F.row_number().over(w_dedup))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    r_tag = r_uniq.select(
        *keys,
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__side"),
        F.col(right_ts).alias(right_prefix + right_ts),
        *[F.col(c).alias(right_prefix + c) for c in payload],
    )
    l_tag = left.select(
        "*",
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__side"),
    )
    # right rows sort before left rows at equal timestamps (side 0 < 1), so
    # an exactly-simultaneous right row IS visible to the left row: ties are
    # inclusive, matching ASOF-join convention.
    merged = l_tag.unionByName(r_tag, allowMissingColumns=True)
    w = (
        Window.partitionBy(*keys)
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = merged.select(
        "*",
        *[
            F.last(c, ignorenulls=True).over(w).alias("__f_" + c)
            for c in out_cols
        ],
    )
    out = filled.filter(F.col("__side") == 1)
    for c in out_cols:
        out = out.withColumn(c, F.col("__f_" + c))
    out = out.drop("__t", "__side", *["__f_" + c for c in out_cols])

    if tolerance is not None:
        in_tol = F.col(right_prefix + right_ts) >= F.col(left_ts) - F.expr(
            f"INTERVAL {tolerance}"
        )
        for c in out_cols:
            out = out.withColumn(c, F.when(in_tol, F.col(c)))
    return out


def range_join_points_intervals(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_col: str,
    end_col: str,
    bin_seconds: int,
) -> DataFrame:
    """Join point rows to every interval row with
    ``start_col <= point_ts < end_col`` — no equi key required.

    Both sides keep all their columns (names must not collide). Each
    (point, interval) pair is emitted exactly once: the pair can only meet
    in the point's single bin.
    """
    b = int(bin_seconds)
    p = points.withColumn(
        "__bin", F.floor(F.col(point_ts).cast("long") / b).cast("long")
    )
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col).cast("long") / b).cast("long"),
                F.floor(F.col(end_col).cast("long") / b).cast("long"),
            )
        ),
    )
    return (
        p.join(iv, "__bin")
        .filter(
            (F.col(point_ts) >= F.col(start_col))
            & (F.col(point_ts) < F.col(end_col))
        )
        .drop("__bin")
    )


def graph_at(
    edges: DataFrame,
    start,
    end,
    ts_col: str = "ts",
) -> DataFrame:
    """Edges active in the half-open window [start, end) — the snapshot
    view of a timestamped edge list. A pure filter: pushes into the scan
    (and into partition pruning when the edge table is date-partitioned,
    the standard layout for event-sourced graphs at scale)."""
    c = F.col(ts_col)
    return edges.filter((c >= F.lit(start)) & (c < F.lit(end)))


def windowed_graph_metrics(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    ts_col: str = "ts",
    bucket: str = "year",
) -> DataFrame:
    """Graph-evolution metrics per time bucket over a timestamped edge
    list: distinct undirected edges, active vertices, and density.

    One shuffle keyed by (bucket, canonical pair) for the edge dedup, one
    by (bucket, vertex) for the vertex count — both map-side combined.
    ``bucket`` is any ``date_trunc`` unit. Density divides exact integers
    once, so the double is cross-engine deterministic.
    """
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    pairs = edges.select(
        b,
        F.least(src_col, dst_col).alias("a"),
        F.greatest(src_col, dst_col).alias("b"),
    ).distinct()
    e_per = pairs.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_edges"))
    verts = (
        pairs.select("bucket", F.col("a").alias("v"))
        .unionByName(pairs.select("bucket", F.col("b").alias("v")))
        .distinct()
    )
    v_per = verts.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vertices"))
    return (
        e_per.join(v_per, on="bucket")
        .select(
            "bucket",
            "n_edges",
            "n_vertices",
            F.when(
                F.col("n_vertices") > 1,
                (2.0 * F.col("n_edges"))
                / (F.col("n_vertices") * (F.col("n_vertices") - F.lit(1))),
            )
            .otherwise(F.lit(0.0))
            .alias("density"),
        )
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bin_width: int,
) -> DataFrame:
    """Join interval rows to interval rows that OVERLAP them
    (half-open: ``l_start < r_end AND r_start < l_end``) — the
    interval×interval counterpart of ``range_join_points_intervals``,
    with the same bin-explode trick turning a theta join into an
    equi-join on the time bin.

    Each overlapping pair is emitted exactly once: only in the bin
    containing ``max(l_start, r_start)`` (the first bin the pair shares).
    Column names must not collide across sides. ``bin_width`` is in the
    units of the start/end columns; choose it near the typical interval
    length — per-row bin fan-out is interval_length/bin_width + 1, while
    bucket population (the shuffle skew bound) grows with bin_width.
    """
    b = int(bin_width)
    lb = left.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(l_start) / b).cast("long"),
                F.floor(F.col(l_end) / b).cast("long"),
            )
        ),
    )
    rb = right.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(r_start) / b).cast("long"),
                F.floor(F.col(r_end) / b).cast("long"),
            )
        ),
    )
    return (
        lb.join(rb, "__bin")
        .filter(
            (F.col(l_start) < F.col(r_end))
            & (F.col(r_start) < F.col(l_end))
            & (
                F.col("__bin")
                == F.floor(
                    F.greatest(F.col(l_start), F.col(r_start)) / b
                ).cast("long")
            )
        )
        .drop("__bin")
    )


def _batch_temporal_dijkstra(seeds_pdf, edges_pdf):
    """Exact earliest arrival in the driver — temporal
    Dijkstra (settle vertices in arrival order; relax only out-edges with
    ts >= arrival, found by bisect on the per-vertex time-sorted
    adjacency). The earliest-arrival function is the UNIQUE least
    fixpoint of the relaxation, so any correct algorithm returns the
    identical table — the distributed rounds and this batch agree
    row-for-row by definition (pinned by test)."""
    import heapq
    from bisect import bisect_left

    import pandas as pd

    adj: dict[int, tuple[list[int], list[int]]] = {}
    order = edges_pdf.sort_values(["__s", "__t"])
    for s, d, t in zip(order["__s"], order["__d"], order["__t"]):
        ts_list, dst_list = adj.setdefault(int(s), ([], []))
        ts_list.append(int(t))
        dst_list.append(int(d))
    arrival: dict[int, int] = {}
    for i, a in zip(seeds_pdf["id"], seeds_pdf["arrival"]):
        i, a = int(i), int(a)
        if i not in arrival or a < arrival[i]:
            arrival[i] = a
    heap = [(a, v) for v, a in arrival.items()]
    heapq.heapify(heap)
    settled: set[int] = set()
    while heap:
        a, v = heapq.heappop(heap)
        if v in settled or arrival.get(v) != a:
            continue
        settled.add(v)
        if v not in adj:
            continue
        ts_list, dst_list = adj[v]
        for k in range(bisect_left(ts_list, a), len(ts_list)):
            t, d = ts_list[k], dst_list[k]
            if d not in arrival or t < arrival[d]:
                arrival[d] = t
                heapq.heappush(heap, (t, d))
    return pd.DataFrame(
        sorted(arrival.items()), columns=["id", "arrival"]
    )


def earliest_arrival(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    ts_col: str = "ts",
    max_rounds: int = 20,
    broadcast_threshold: int = 1_000_000,
    batch_finish: int = 2_000_000,
) -> DataFrame:
    """Time-respecting reachability (temporal BFS, Wu et al. 2014):
    earliest arrival time at every vertex reachable from the seeds along
    paths whose edge timestamps never decrease — the contact-tracing /
    influence-spread primitive that plain reachability gets WRONG on
    temporal graphs (an edge that fired before you arrived cannot carry
    you forward).

    ``seeds``: (id, t0) start vertices with their start times. Rounds
    relax ``arrival(dst) = min(edge.ts) over edges with ts >= arrival
    (src)`` until a fixpoint; arrival times only decrease, so convergence
    is monotone and rounds are bounded by the longest time-respecting
    path.

    Scale: frontier-delta relaxation — each round joins only the vertices
    whose arrival IMPROVED last round (label-correcting: any further
    improvement must route through an improved vertex), then upserts the
    improvements. While the frontier is below ``broadcast_threshold``
    rows it is BROADCAST into the edge join (the measured 2× win: a
    checkpointed frontier carries no partitioning stats, so Catalyst
    otherwise sort-merge-joins the full edge list every round); a frontier
    above the threshold falls back to the shuffle join, which is the
    correct plan for wavefronts that no longer fit an executor. The
    improved-row count each round's checkpoint observes doubles as the
    convergence probe and the next round's plan choice; a wavefront
    still moving after ``max_rounds`` raises.

    ``batch_finish``: while the checkpointed edges and seeds fit the
    bound together, they come back in one Arrow fetch and a temporal
    Dijkstra in the driver returns the table (_batch_temporal_dijkstra);
    0 disables.
    """
    # size probes ride the materializing checkpoints themselves
    # (round 12, checkpoint_observed) — previously two extra count
    # actions before the first round and one per round
    state, ms = checkpoint_observed(
        seeds.select(
            F.col(seeds.columns[0]).alias("id"),
            F.col(seeds.columns[1]).cast("long").alias("arrival"),
        )
        # duplicate seed ids would otherwise live in state forever (the
        # upsert path only replaces rows that IMPROVE); keep the earliest,
        # consistent with reachable_set's .distinct() on seeds
        .groupBy("id")
        .agg(F.min("arrival").alias("arrival")),
        __n=F.count(F.lit(1)),
    )
    frontier = state
    n_front = ms["__n"] or 0
    e, me = checkpoint_observed(
        edges.select(
            F.col(src_col).alias("__s"),
            F.col(dst_col).alias("__d"),
            F.col(ts_col).cast("long").alias("__t"),
        ),
        __n=F.count(F.lit(1)),
    )
    # the bound covers EVERYTHING fetched to the driver: edges AND the
    # seed/state frame (n_front is the state's row count here) — a huge
    # seed set with a small edge list must take the distributed rounds
    if (me["__n"] or 0) + n_front <= batch_finish:
        # the earliest-arrival table is a unique least fixpoint, so the
        # driver's temporal Dijkstra equals the distributed rounds by
        # definition (same bounded-batch-finish contract as CC/SCC/MST);
        # the label-correcting rounds below remain the only path above
        # the bound. 2M rows x 24 B ≈ 48 MB fetched
        out = driver_finish(
            batch_finish,
            _batch_temporal_dijkstra,
            "id long, arrival long",
            state,
            e,
        )
        if out is not None:
            return out
    rounds = 0
    while rounds < max_rounds:
        fr = (
            F.broadcast(frontier)
            if n_front <= broadcast_threshold
            else frontier
        )
        cand = (
            e.join(
                fr,
                on=[
                    frontier["id"] == F.col("__s"),
                    F.col("__t") >= frontier["arrival"],
                ],
            )
            .groupBy(F.col("__d").alias("id"))
            .agg(F.min("__t").alias("arrival"))
        )
        improved, mi = checkpoint_observed(
            cand.join(
                state.withColumnRenamed("arrival", "__old"), "id", "left"
            )
            .filter(
                F.col("__old").isNull()
                | (F.col("arrival") < F.col("__old"))
            )
            .select("id", "arrival"),
            __n=F.count(F.lit(1)),
        )
        rounds += 1
        n_front = mi["__n"] or 0
        if n_front == 0:
            return state
        state = (
            state.join(improved, "id", "anti")
            .unionByName(improved)
            .localCheckpoint()
        )
        frontier = improved
    # consistent with CriticalPath/TransitiveClosure: a silent truncated
    # state would hand callers wrong arrival times with no signal
    raise ValueError(
        "earliest_arrival did not converge within max_rounds="
        f"{max_rounds} (ran {rounds} rounds) — raise max_rounds (bounded "
        "by the longest time-respecting path)"
    )
