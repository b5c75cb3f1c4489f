"""Z-order layout keys and R-MAT generation."""

import pytest
from pyspark.sql import functions as F

from pyspark_graph_spark.functions.layout import zorder_write, zvalue
from pyspark_graph_spark.sources.generators import rmat_edges


def test_zvalue_interleaves_bits(spark):
    df = spark.createDataFrame([(0b101, 0b011)], ["a", "b"])
    # a bits at odd positions: 1,0,1 -> 2^1 + 2^5; b bits even: 1,1,0 -> 2^0 + 2^2
    expect = (1 << 1) + (1 << 5) + (1 << 0) + (1 << 2)
    assert df.select(zvalue(F.col("a"), F.col("b"), 4).alias("z")).first().z == expect


def test_zvalue_locality(spark):
    """Rows close in both dims are close in z; verify the classic 4x4
    Morton curve ordering prefix."""
    rows = [(x, y) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(rows, ["x", "y"])
    out = sorted(
        (r.z, r.x, r.y)
        for r in df.select(
            "x", "y", zvalue(F.col("x"), F.col("y"), 2).alias("z")
        ).collect()
    )
    assert [(x, y) for _, x, y in out[:4]] == [(0, 0), (0, 1), (1, 0), (1, 1)]


def test_zvalue_invalid_bits(spark):
    with pytest.raises(ValueError):
        zvalue(F.lit(1), F.lit(1), 0)


def test_zorder_write_tightens_file_stats(spark, tmp_path):
    """Z-ordered files have tighter per-file min/max spans on both columns
    than the unsorted layout."""
    import itertools

    rows = [(x, y) for x, y in itertools.product(range(64), repeat=2)]
    df = spark.createDataFrame(rows, ["x", "y"]).repartition(8)
    path = str(tmp_path / "z")
    zorder_write(df, path, "x", "y", n_files=16, bits=6)
    back = spark.read.parquet(path)
    # per file, not per read partition: a scan packs several small files
    # into one partition (16 files into 4 on a 4-core session)
    spans = (
        back.groupBy(F.input_file_name())
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        .agg(F.avg("sx").alias("ax"), F.avg("sy").alias("ay"))
        .first()
    )
    # random layout would span ~63 on both; z-order must be far tighter
    assert spans.ax < 40 and spans.ay < 40


def test_rmat_deterministic_and_in_range(spark):
    e1 = sorted(tuple(r) for r in rmat_edges(spark, scale=6, n_edges=500).collect())
    e2 = sorted(tuple(r) for r in rmat_edges(spark, scale=6, n_edges=500).collect())
    assert e1 == e2
    assert len(e1) == 500
    for s, d in e1:
        assert 0 <= s < 64 and 0 <= d < 64


def test_rmat_skews_toward_low_ids(spark):
    """a=0.57 concentrates mass in the low-id quadrant: vertex 0's corner
    must be denser than the high corner."""
    e = rmat_edges(spark, scale=8, n_edges=4000).collect()
    low = sum(1 for r in e if r.src < 64 and r.dst < 64)
    high = sum(1 for r in e if r.src >= 192 and r.dst >= 192)
    assert low > 4 * high


def test_rmat_seed_changes_graph(spark):
    a = sorted(tuple(r) for r in rmat_edges(spark, scale=6, n_edges=300, seed="s1").collect())
    b = sorted(tuple(r) for r in rmat_edges(spark, scale=6, n_edges=300, seed="s2").collect())
    assert a != b


def test_rmat_invalid_params(spark):
    with pytest.raises(ValueError):
        rmat_edges(spark, scale=0)
    with pytest.raises(ValueError):
        rmat_edges(spark, scale=4, a=0.9, b=0.2, c=0.2)


def test_cc_on_rmat_matches_union_find(spark):
    """Integration: a generated power-law graph feeds the O(log n) CC
    operator; verify against python union-find."""
    from pyspark_graph_spark.graph import Graph
    from pyspark_graph_spark.operators import AlternatingConnectedComponents

    e = rmat_edges(spark, scale=7, n_edges=600)
    edges = [(r.src, r.dst) for r in e.collect()]
    ids = sorted({u for p in edges for u in p})
    v = spark.createDataFrame([(i,) for i in ids], ["id"])
    g = Graph(v, e, directed=False, indexed=True)
    got = {
        r.id: r.component
        for r in AlternatingConnectedComponents(max_iterations=30).run(g).collect()
    }
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    expect = {i: min(j for j in ids if find(j) == find(i)) for i in ids}
    assert got == expect


# --------------------------------------------------------------------------
# Hilbert curve keys
# --------------------------------------------------------------------------


def _xy2d_ref(order, x, y):
    d = 0
    s = order // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_matches_reference_and_is_a_space_filling_curve(spark):
    from pyspark_graph_spark.functions.layout import with_hilbert_key

    pts = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], ["id", "x", "y"]
    )
    got = {
        (r["x"], r["y"]): r["hilbert"]
        for r in with_hilbert_key(df, "x", "y", bits=4).collect()
    }
    assert all(got[(x, y)] == _xy2d_ref(16, x, y) for x, y in pts)
    # bijective onto 0..255 and consecutive indices are grid-adjacent
    inv = {d: p for p, d in got.items()}
    assert len(inv) == 256
    assert all(
        abs(inv[d][0] - inv[d + 1][0]) + abs(inv[d][1] - inv[d + 1][1]) == 1
        for d in range(255)
    )


def test_hilbert_rejects_bad_bits(spark):
    import pytest as _pytest

    from pyspark_graph_spark.functions.layout import with_hilbert_key

    df = spark.createDataFrame([(1, 2, 3)], ["id", "x", "y"])
    with _pytest.raises(ValueError):
        with_hilbert_key(df, "x", "y", bits=0)


def test_compaction_groups_invariants(spark):
    """Greedy running-total bucketing: groups are contiguous runs per
    partition, reach the target except possibly the tail, and oversize
    files take their own group."""
    from pyspark_graph_spark.functions.layout import compaction_groups

    rows = [
        # partition p1: sizes 400,400,400 -> groups 0,0,1 at target 1000
        ("p1", 1, 400), ("p1", 2, 400), ("p1", 3, 400),
        # partition p2: an oversize file then small ones
        ("p2", 1, 2500), ("p2", 2, 100), ("p2", 3, 100),
        # partition p3: exact fill
        ("p3", 1, 1000), ("p3", 2, 1000),
    ]
    files = spark.createDataFrame(rows, "part string, ym int, n_rows long")
    got = {
        (r["part"], r["ym"]): r["group_id"]
        for r in compaction_groups(
            files, ["part"], "ym", "n_rows", target=1000
        ).collect()
    }
    assert got[("p1", 1)] == 0 and got[("p1", 2)] == 0
    assert got[("p1", 3)] == 0  # excl sum 800 < 1000 -> still group 0
    assert got[("p2", 1)] == 0
    assert got[("p2", 2)] == 2 and got[("p2", 3)] == 2  # past the big file
    assert got[("p3", 1)] == 0 and got[("p3", 2)] == 1

    import pytest

    with pytest.raises(ValueError):
        compaction_groups(files, ["part"], "ym", "n_rows", target=0)
