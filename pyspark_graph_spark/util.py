"""Join/union/motif helpers (semantics of reference util.py:9-39, fixed).

The join/union/motif helpers are pure plan builders — no actions, no
caching. They compose with Catalyst optimization (join reordering,
pushdown) because they only use the public DataFrame API. The
bounded-batch helpers at the end (``checkpoint_observed``,
``fetch_bounded`` with its numpy gate ``fetch_arrays``, and
``driver_finish``) are the actions the iterative operators share,
``broadcast_if_small`` is how their loops decide which side of a join
moves, ``round_zero`` types their round 0 as any other round, and
``local_frame`` builds the small frames they seed them with and return.
``BATCH_ROWS`` is the default bound of the core operators' driver
finishes.
"""

from __future__ import annotations

import copy
import re
from functools import lru_cache, reduce
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, SRC

# rows the core operators (PageRank, both connected components, triangle
# count, similarity) take to the driver by default: 1M edges x 16 B is
# ~16 MB there
BATCH_ROWS = 1_000_000


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


def edge_counts(edges: DataFrame) -> tuple[int, int]:
    """``(rows, endpoints)`` of a ``(src, dst)`` frame with no null
    endpoint: its rows and its distinct endpoints, from one job. Each row
    becomes its two endpoints, which one aggregate counts and dedups."""
    row = (
        edges.select(F.explode(F.array(SRC, DST)).alias(ID))
        .agg(F.count(F.lit(1)).alias("ends"), F.count_distinct(ID).alias("n"))
        .first()
    )
    return row["ends"] // 2, row["n"]


def checkpoint_observed(
    df: DataFrame, **metrics: Column
) -> tuple[DataFrame, dict]:
    """``localCheckpoint`` a frame and collect aggregate metrics about it
    IN THE SAME JOB.

    An iterative operator's convergence probe (a row count, a changed
    count, a fingerprint) on the frame it has just checkpointed would
    otherwise cost one more action per round: one ~90 ms fixed-overhead
    job per round per operator locally, one full cluster job launch per
    round at scale. ``DataFrame.observe`` attaches the aggregates to the
    checkpoint's own materialization, so the probe rides the job that
    must run anyway. The checkpointed rows are those of ``df`` (observe
    is a pass-through metrics node).

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


def round_zero(seed: DataFrame, step) -> DataFrame:
    """Round 0 of a BSP loop: the rows of ``seed``, typed as the frame
    ``step(seed)`` that every round builds from the last. The columns
    must be the same; the order, types and nullability become the
    step's. A seed built with its own expressions differs from a round,
    most often in nullability (a round's outer join or aggregate makes a
    column nullable), and Spark then generates and compiles a second set
    of classes for round 2. Seeded this way every round runs one plan,
    which Spark compiles once per session (session.py). No row of
    ``step(seed)`` is computed: the optimizer drops the empty side of
    the union, and the union's schema keeps the wider nullability.
    A checkpoint also keeps its plan's constraints (``isnotnull(id)``
    of non-null ids, say), which the step must carry from round to
    round itself."""
    return step(seed).limit(0).unionByName(seed)


def fetch_bounded(bound: int, *dfs: DataFrame):
    """``(tables, seen)``: the rows of ``dfs``, one ``pyarrow.Table`` per
    frame with that frame's columns, from ONE limited collect and no
    count probe; ``tables`` is None when the frames hold more than
    ``bound`` rows together. ``seen[i]`` counts the fetched rows of
    ``dfs[i]``: above the bound the fetch stops at ``bound + 1`` rows,
    so a frame that supplied all of them is over the bound on its own.

    ``coalesce(1)`` puts the limit in the scanning task itself: above the
    bound the fetch reads up to ``bound + 1`` rows in one task and stops,
    instead of shuffling every partition's first ``bound + 1`` rows to
    one reducer (half the fetch's time on a 1M-row edge table). Callers
    pass scans and projections, so the one task loses no parallel work.
    Several frames share one ``unionByName`` tagged with their position;
    a single frame goes untagged. ``DataFrame.toArrow`` is public API
    (Spark >= 4.0), so the gate also works under Spark Connect."""
    import numpy as np
    import pyarrow.compute as pc

    tagged = dfs[0] if len(dfs) == 1 else reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [df.withColumn("__fetch_tag", F.lit(i)) for i, df in enumerate(dfs)],
    )
    table = tagged.coalesce(1).limit(bound + 1).toArrow()
    if len(dfs) == 1:
        return (None if table.num_rows > bound else [table]), [table.num_rows]
    tag = table.column("__fetch_tag")
    seen = np.bincount(tag.to_numpy(), minlength=len(dfs)).tolist()
    if table.num_rows > bound:  # counted from the tags alone
        return None, seen
    return [
        table.filter(pc.equal(tag, i)).select(df.columns)
        for i, df in enumerate(dfs)
    ], seen


def fetch_arrays(bound: int, *dfs: DataFrame):
    """``[{column: numpy array}]``, one per frame, from one
    ``fetch_bounded`` collect (``arrays``). None, and the caller runs its
    distributed plan, when ``bound`` is 0, when a column does not fit
    (an ``id``/``src``/``dst`` that is not integral, or another column
    that is not numeric; checked on the schemas, before any job), when
    the frames hold more than ``bound`` rows together, or when a fetched
    column holds a null."""
    if not bound or not all(
        f.dataType.typeName() in (_INTEGRAL if f.name in _IDS else _NUMERIC)
        for df in dfs
        for f in df.schema.fields
    ):
        return None
    tables = fetch_bounded(bound, *dfs)[0]
    out = None if tables is None else [arrays(t) for t in tables]
    return None if out is None or None in out else out


def driver_finish(bound: int, kernel, schema: str, *dfs: DataFrame):
    """The bounded-batch finish of the operators whose kernels are pandas
    functions: ``kernel(*frames)`` runs in the driver on the rows of
    ``dfs`` as pandas frames, fetched in one ``fetch_bounded`` collect,
    and its pandas result comes back as a local DataFrame of the DDL
    ``schema`` (columns matched by name). None when ``bound`` is 0,
    when the frames hold more than ``bound`` rows together, or when the
    kernel returns None because it cannot replay that input: the caller
    then runs its distributed plan. A kernel's own error (a loud
    non-convergence, say) propagates as raised."""
    tables = fetch_bounded(bound, *dfs)[0] if bound else None
    out = None if tables is None else kernel(*(t.to_pandas() for t in tables))
    if out is None:
        return None
    struct = _struct(schema)
    return dfs[0].sparkSession.createDataFrame(out[struct.names], struct)


def local_frame(spark, schema: str, *columns) -> DataFrame:
    """A small frame an operator builds itself (sources, landmarks, a
    driver finish's result): ``columns`` hold the values of the DDL
    ``schema``'s fields, in order, and go in as one ``pyarrow.Table``.
    Under the session's ``localRelationThreshold`` (session.py) that is
    a LocalRelation, which Spark scans in the JVM. A frame built from a
    list of rows is a parallelized Python RDD, and each scan of it runs
    a Python worker: a limited Arrow fetch of a 2-row frame took
    370-610 ms that way and 50-90 ms this way (medians of 5, local[4])."""
    import pyarrow as pa

    struct = _struct(schema)
    table = pa.table(list(columns), names=struct.names)
    return spark.createDataFrame(table, struct)


def _struct(schema: str):
    """The ``StructType`` of a DDL string, for ``createDataFrame``, which
    would parse the string again. Spark parses DDL in the JVM (~5 ms a
    call), so each string is parsed once per process; every caller gets
    its own copy, as a frame's schema is a mutable object."""
    return copy.deepcopy(_parsed(schema))


@lru_cache(maxsize=None)
def _parsed(schema: str):
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(schema)


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


_INTEGRAL = ("long", "integer", "short", "byte")
_NUMERIC = _INTEGRAL + ("float", "double")
_IDS = (ID, SRC, DST)


def int_columns(df: DataFrame, *cols: str) -> bool:
    """True when every named column of ``df`` is an integral type — the
    precondition of the int64 kernels behind the batch finishes."""
    kinds = {f.name: f.dataType.typeName() for f in df.schema.fields}
    return all(kinds.get(c) in _INTEGRAL for c in cols)


def arrays(table):
    """``{column: numpy array}`` of a fetched table, ``id``/``src``/``dst``
    as int64 and any other column as float64, or None when a column
    holds a null: the numpy kernels assume none, and the distributed
    plans define what a null id or weight does."""
    import numpy as np

    if any(c.null_count for c in table.columns):
        return None
    return {
        c: table.column(c).to_numpy().astype(
            np.int64 if c in _IDS else np.float64, copy=False
        )
        for c in table.column_names
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
