"""Join/union/motif helpers (semantics of reference util.py:9-39, fixed).

The join/union/motif helpers are pure plan builders — no actions, no
caching. They compose with Catalyst optimization (join reordering,
pushdown) because they only use the public DataFrame API. The
bounded-batch helpers at the end (``checkpoint_observed``,
``fetch_bounded``, ``fetch_bounded_all``, ``fetch_tagged``) are the
actions the iterative operators share, and ``broadcast_if_small`` is how
their loops decide which side of a join moves.
"""

from __future__ import annotations

import re
from functools import reduce
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, SRC


def common_columns(left: DataFrame, right: DataFrame) -> list[str]:
    """Shared column names, in left-DataFrame order (deterministic)."""
    right_cols = set(right.columns)
    return [c for c in left.columns if c in right_cols]


def multiple_join(dfs: Sequence[DataFrame]) -> DataFrame:
    """Natural-join a list of DataFrames on their shared column names.

    Semantics of reference util.py:9-14. Each pairwise join is an inner
    equi-join on the columns the two frames share at that point in the
    reduction; Catalyst reorders/plans the join tree (AQE may broadcast small
    sides at runtime).

    Raises ``ValueError`` on an empty list or when a pair shares no columns
    (which would otherwise silently produce a cross join).
    """
    if not dfs:
        raise ValueError("multiple_join requires at least one DataFrame")

    def join2(left: DataFrame, right: DataFrame) -> DataFrame:
        on = common_columns(left, right)
        if not on:
            raise ValueError(
                "multiple_join: no shared columns between "
                f"{left.columns} and {right.columns}"
            )
        return left.join(right, on=on)

    return reduce(join2, dfs)


def multiple_union(dfs: Sequence[DataFrame]) -> DataFrame:
    """Union a list of DataFrames **by name** (reference util.py:17-21 used
    positional ``union``, which hides column-misalignment bugs; we don't)."""
    if not dfs:
        raise ValueError("multiple_union requires at least one DataFrame")
    return reduce(DataFrame.unionByName, dfs)


def ne_null_safe(x: Column, y: Column) -> Column:
    """Null-safe inequality (reference util.py:24-25): NULL <=> NULL is False."""
    return ~x.eqNullSafe(y)


def match_structure(
    edges: DataFrame, match: Iterable[tuple[str, str]]
) -> DataFrame:
    """Conjunctive edge-pattern (motif) match — GraphFrames ``find()`` lite.

    Each ``(s, d)`` variable pair aliases the edge table as columns ``s``/``d``;
    the natural join unifies shared variables (reference util.py:28-32).
    E.g. ``match_structure(e, [("a","b"), ("b","c"), ("a","c")])`` matches
    triangles. Returns one column per distinct variable.

    Scale note: this is an N-way self-equi-join; Catalyst plans shuffled hash /
    sort-merge joins on the unified variables. Canonicalize edges first
    (``order_edges``) to cut the candidate space for undirected motifs.
    """
    match = list(match)
    frames = [
        edges.select(F.col(SRC).alias(s), F.col(DST).alias(d))
        for s, d in match
    ]
    variables = list(dict.fromkeys(v for pair in match for v in pair))
    return multiple_join(frames).select(variables)


def order_edges(edges: DataFrame) -> DataFrame:
    """Canonicalize an edge list: drop self-loops, order endpoints ascending,
    dedup (reference util.py:35-39). Keeps only (src, dst)."""
    return (
        edges.filter(F.col(SRC) != F.col(DST))
        .select(
            F.least(SRC, DST).alias(SRC),
            F.greatest(SRC, DST).alias(DST),
        )
        .dropDuplicates()
    )


def checkpoint_observed(
    df: DataFrame, **metrics: Column
) -> tuple[DataFrame, dict]:
    """``localCheckpoint`` a frame and collect aggregate metrics about it
    IN THE SAME JOB (round 12, guide §2.4).

    Every iterative operator used to pay one extra action per round for
    its convergence probe (``isEmpty``/``count``/fingerprint ``first``)
    on the frame it had just checkpointed — at gate scale that is one
    ~90 ms fixed-overhead job per round per operator, and at 100 TB one
    full cluster job launch per round. ``DataFrame.observe`` attaches
    the aggregates to the checkpoint's own materialization, so the probe
    rides the job that must run anyway. The checkpointed ROWS are
    byte-identical (observe is a pass-through metrics node); only the
    probe's packaging changes.

    Returns ``(checkpointed_df, {name: value})``. The metric values are
    what the same aggregate expressions would return over the frame
    (``sum`` over no rows is None, like any Spark aggregate).
    """
    from pyspark.sql import Observation

    obs = Observation()
    out = df.observe(
        obs, *[m.alias(n) for n, m in metrics.items()]
    ).localCheckpoint()
    return out, obs.get


def fetch_bounded(df: DataFrame, bound: int):
    """The rows of ``df`` as a ``pyarrow.Table``, or None when it holds
    more than ``bound`` rows — ONE limited collect, no count probe.

    This is the bounded-batch gate: below the bound an operator finishes
    in the driver on the fetched table and returns
    ``createDataFrame(table)`` (a local relation or local Arrow batches,
    so reading the result is one Arrow collect and no scan or shuffle).
    Above it the probe costs one job that stops
    at ``bound + 1`` rows, and the caller runs its distributed plan.
    ``coalesce(1)`` puts the limit in the scanning task itself: above the
    bound the probe then reads up to ``bound + 1`` rows in one task and
    stops, instead of shuffling every partition's first ``bound + 1`` rows
    to one reducer (half the probe's time on a 1M-row edge table). Callers
    pass scans and projections, so the one task loses no parallel work.
    ``DataFrame.toArrow`` is public API (Spark >= 4.0), so the gate also
    works under Spark Connect."""
    table = df.coalesce(1).limit(bound + 1).toArrow()
    return None if table.num_rows > bound else table


def fetch_bounded_all(bound: int, *dfs: DataFrame):
    """``[pyarrow.Table]``, one per frame, or None when the frames hold
    more than ``bound`` rows together — ``fetch_bounded`` over a tagged
    ``unionByName``, so a driver finish that needs several inputs still
    costs one collect. The tables carry each frame's own columns."""
    return fetch_tagged(bound, *dfs)[0]


def fetch_tagged(bound: int, *dfs: DataFrame):
    """``(fetch_bounded_all(bound, *dfs), seen)``, where ``seen[i]`` is how
    many of the fetched rows came from ``dfs[i]``. Above the bound the
    fetch stops at ``bound + 1`` rows, so a frame that supplied all of
    them holds more than ``bound`` rows on its own, in whatever order
    the rows arrived."""
    import pyarrow.compute as pc

    tagged = [
        df.withColumn("__fetch_tag", F.lit(i)) for i, df in enumerate(dfs)
    ]
    union = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), tagged
    )
    # fetch_bounded's collect, keeping the table above the bound
    table = union.coalesce(1).limit(bound + 1).toArrow()
    tag = table.column("__fetch_tag")
    seen = [pc.sum(pc.equal(tag, i)).as_py() or 0 for i in range(len(dfs))]
    if table.num_rows > bound:
        return None, seen
    return [
        table.filter(pc.equal(tag, i)).select(df.columns)
        for i, df in enumerate(dfs)
    ], seen


# Spark's per-column size estimates (DataType.defaultSize) by typeName; a
# row adds 8 bytes (EstimationUtils.getSizePerRow)
_DEFAULT_SIZE = dict(byte=1, short=2, integer=4, long=8, float=4, double=8,
                     boolean=1, date=4, timestamp=8, timestamp_ntz=8,
                     string=20, binary=100)
_UNITS = {"": 0, "b": 0, "k": 10, "kb": 10, "m": 20, "mb": 20, "g": 30, "gb": 30}


def broadcast_if_small(df: DataFrame, rows) -> DataFrame:
    """``F.broadcast(df)`` when ``rows`` rows of ``df`` fit Spark's own
    ``spark.sql.autoBroadcastJoinThreshold``, else ``df``.

    The BSP loops join a vertex-sized frame that changes every round to
    an edge table that does not. Spark sizes a ``localCheckpoint`` from
    the plan it came from, often far from its real size, so it may
    broadcast the edge side instead or shuffle both. The loops know the
    real row count (``checkpoint_observed``), sized here as Spark sizes
    rows. Over the threshold, at -1, or for a column without a fixed size
    estimate, the plain join runs: the path for vertex tables of any
    size."""
    conf = df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
    m = re.fullmatch(r"\s*(-?\d+)\s*([a-z]*)\s*", str(conf).lower())
    sizes = [_DEFAULT_SIZE.get(f.dataType.typeName()) for f in df.schema.fields]
    if rows is None or m is None or m.group(2) not in _UNITS or None in sizes:
        return df
    threshold = int(m.group(1)) << _UNITS[m.group(2)]
    if threshold < 0 or rows * (8 + sum(sizes)) > threshold:
        return df
    return F.broadcast(df)


def int_columns(df: DataFrame, *cols: str) -> bool:
    """True when every named column of ``df`` is an integral type — the
    precondition of the int64 numpy kernels behind the batch finishes."""
    kinds = {f.name: f.dataType.typeName() for f in df.schema.fields}
    return all(
        kinds.get(c) in ("long", "integer", "short", "byte") for c in cols
    )


def arrays(table, **dtypes):
    """``{column: numpy array}`` of a fetched table cast to ``dtypes``, or
    None when any of those columns holds a null: the numpy kernels assume
    none, and the distributed plans define what a null id or weight does."""
    if any(table.column(c).null_count for c in dtypes):
        return None
    return {
        c: table.column(c).to_numpy().astype(dt, copy=False)
        for c, dt in dtypes.items()
    }


def positions(ids, values):
    """``(idx, found)``: where each of ``values`` sits in the sorted int64
    array ``ids``, and whether it is there at all (an edge endpoint
    outside the vertex table is not — it joins nothing). Safe on an empty
    ``ids``."""
    import numpy as np

    idx = np.searchsorted(ids, values)
    if len(ids) == 0:
        return idx, np.zeros(len(values), dtype=bool)
    found = (idx < len(ids)) & (ids[np.minimum(idx, len(ids) - 1)] == values)
    return idx, found


def dense_pairs(src, dst):
    """``(ids, a, b)``: the distinct ``(src, dst)`` pairs of two int64
    arrays as indexes into ``ids``, the sorted ids of their endpoints,
    ordered by ``(a, b)``."""
    import numpy as np

    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(ids)
    # n * n stays far below 2^63 at any batch size
    key = np.unique(inv[: len(src)] * n + inv[len(src):])
    return ids, key // n, key % n


def later_pairs(later, start: int = 0):
    """``(first, second)`` index arrays pairing each position ``i`` (from
    ``start``) with the ``later[i]`` positions after it — the pairs inside
    sorted runs, when ``later[i]`` counts the rest of ``i``'s run."""
    import numpy as np

    first = np.repeat(np.arange(start, start + len(later)), later)
    step = np.arange(len(first)) - np.repeat(np.cumsum(later) - later, later)
    return first, first + step + 1
