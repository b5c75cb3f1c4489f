"""Rank-1 truncated SVD of a sparse interaction matrix by alternating
power iteration — the factorization core of SVD++-class recommenders.

The reference's README comparison matrix lists SVDPlusPlus as unsupported
everywhere (reference README.md:32 — ❌ for GraphX, GraphFrames, and the
reference itself); this operator supplies the DataFrame-API factorization
primitive that family is built on. Full SVD++ (Koren 2008) adds user/item
biases and an implicit-feedback term trained by SGD — sequential by
construction and not exactly replayable by an external oracle; the
dominant singular triple below IS exactly replayable (katz-style unrolled
linear algebra), which is what makes it gate-able cross-engine.

Algorithm: classic alternating power iteration on A (rows x cols, sparse
COO DataFrame). Starting from v_0 = 1:

    u_k = A v_{k-1} / ||A v_{k-1}||
    v_k = A^T u_k  / ||A^T u_k||

converges to the dominant left/right singular vectors (u_1, v_1) at rate
(sigma_2/sigma_1)^k, and sigma_1 = ||A^T u_k|| at the fixpoint.

Physical shape per half-iteration: one hash join of the COO table with
the current vector keyed on the shared dimension, one groupBy-sum on the
other dimension, and one singleton L2-norm aggregate joined back as a
broadcast — two vertex-keyed shuffles, no densification, no driver-side
vectors. The COO side is pre-partitioned once and checkpointed; at 100 TB
the vector frames are |rows| / |cols| keyed tables and every join keeps
the matrix sharded. Same budget class as one PageRank iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.util import driver_finish, int_columns

# ---------------------------------------------------------------------------
# Bounded-batch finish: while the COO table fits batch_finish rows, one
# limited Arrow fetch (util.driver_finish) brings it to the driver and
# the whole power-iteration trajectory runs there in numpy, instead of
# 2-5 fixed-overhead jobs per half-iteration; the distributed
# per-iteration plan is unchanged above the bound (it is the only 100 TB
# path; the bound only short-circuits dimension-scale inputs). The
# kernel replays the identical IEEE-754 double algebra expression by
# expression (same matvec -> correction -> normalize order, same null
# guards, and the same loud rank-exhaustion ValueErrors, raised with the
# distributed path's text). An exactly-degenerate trajectory (a norm or
# Cholesky pivot at 0.0/NaN, the plan's NULL-guard regime) makes the
# kernel return None and the distributed plan runs. The one thing it
# cannot replay is the ORDER Spark's parallel partial aggregates happen
# to merge per-key sums in — which Spark itself does not pin run to run
# (shuffle fetch order) — so per-sum results can differ from a
# distributed run in the last ulp, exactly the noise class the engine's
# own reruns carry; the queries' 6-decimal output rounding sits ~6
# orders of magnitude above it.
# Equality of both paths' gate outputs is pinned by
# tests/test_svd_batch.py and the committed oracle sweeps.
# ---------------------------------------------------------------------------

_BATCH_SCHEMA = "side tinyint, key long, factor long, x double, sigma double"


def _coo_arrays(pdf):
    """Sorted COO triplets + dense reindexing — the deterministic batch
    layout every SVD kernel starts from."""
    import numpy as np

    r = pdf["__r"].to_numpy(dtype=np.int64)
    c = pdf["__c"].to_numpy(dtype=np.int64)
    a = pdf["__a"].to_numpy(dtype=np.float64)
    order = np.lexsort((c, r))
    r, c, a = r[order], c[order], a[order]
    rows, r_idx = np.unique(r, return_inverse=True)
    cols, c_idx = np.unique(c, return_inverse=True)
    return rows, cols, r_idx, c_idx, a


def _segsum(n, idx, vals):
    import numpy as np

    out = np.zeros(n, dtype=np.float64)
    np.add.at(out, idx, vals)
    return out


def _emit(parts):
    """Assemble (side, key, factor, x, sigma) output rows."""
    import pandas as pd

    return pd.DataFrame(
        {
            "side": [p[0] for p in parts],
            "key": [p[1] for p in parts],
            "factor": [p[2] for p in parts],
            "x": [p[3] for p in parts],
            "sigma": [p[4] for p in parts],
        }
    )


class _Degenerate(Exception):
    """A zero or non-finite norm or pivot: the distributed plan's
    NULL-guard regime, which the kernels leave to it."""


def _check_finite_norm(n: float) -> float:
    import math

    if n == 0.0 or not math.isfinite(n):
        raise _Degenerate
    return n


def _batch_out(a: DataFrame, batch_finish: int, kernel) -> DataFrame | None:
    """Run one SVD batch kernel in the driver on the COO frame when it
    fits ``batch_finish`` rows (``util.driver_finish``): the tagged
    ``(side, key, factor, x, sigma)`` output, or None above the bound or
    when the trajectory is degenerate (``_Degenerate``) and the caller
    runs the distributed plan. Rank exhaustion raises from the kernel
    with the distributed path's exact text."""

    def deferring(pdf):
        try:
            return kernel(pdf)
        except _Degenerate:
            return None

    if not int_columns(a, "__r", "__c"):
        return None
    return driver_finish(batch_finish, deferring, _BATCH_SCHEMA, a)


def _power_batch_kernel(iterations: int):
    """Rank-1 alternating power iteration in the driver — the
    identical u_k = A v / ||A v||, v_k = A^T u / ||A^T u|| recursion."""

    def kern(pdf):
        import numpy as np

        rows, cols, r_idx, c_idx, av = _coo_arrays(pdf)
        x = np.ones(len(cols), dtype=np.float64)
        u = None
        sigma = None
        for _ in range(iterations):
            y = _segsum(len(rows), r_idx, av * x[c_idx])
            # the rank-1 plan divides UNGUARDED — under ANSI a zero norm
            # is a loud DIVIDE_BY_ZERO there; defer so the distributed
            # plan raises it (guide: loud, never silently different)
            n = _check_finite_norm(float(np.sqrt(np.sum(y * y))))
            u = y / n
            z = _segsum(len(cols), c_idx, av * u[r_idx])
            vn = _check_finite_norm(float(np.sqrt(np.sum(z * z))))
            x = z / vn
            sigma = vn
        parts = [(0, int(rows[i]), 0, float(u[i]), None) for i in range(len(rows))]
        parts += [
            (1, int(cols[i]), 0, float(x[i]), float(sigma))
            for i in range(len(cols))
        ]
        return _emit(parts)

    return kern


def _deflated_batch_kernel(k: int, iterations: int, rank_tolerance: float):
    """Implicitly-deflated rank-k power iteration in the driver —
    the same matvec → per-prior-factor correction → normalize order and
    the same loud rank-exhaustion ValueErrors as the distributed plan.
    Exactly-degenerate trajectories (a norm hits 0.0/NaN — the plan's
    NULL-guard regime) defer to the distributed path via
    _check_finite_norm."""

    def kern(pdf):
        import math

        import numpy as np

        rows, cols, r_idx, c_idx, av = _coo_arrays(pdf)
        if len(rows) == 0:
            raise _Degenerate
        factors = []  # (u_vec, v_vec, sigma_float)
        for j in range(k):
            x = np.ones(len(cols), dtype=np.float64)
            u = None
            sigma = None
            for _ in range(iterations):
                y = _segsum(len(rows), r_idx, av * x[c_idx])
                for (u_p, v_p, s_p) in factors:
                    d = float(np.sum(v_p * x))
                    y = y + (-s_p * d) * u_p
                n = _check_finite_norm(float(np.sqrt(np.sum(y * y))))
                u = y / n
                z = _segsum(len(cols), c_idx, av * u[r_idx])
                for (u_p, v_p, s_p) in factors:
                    d = float(np.sum(u_p * u))
                    z = z + (-s_p * d) * v_p
                vn = _check_finite_norm(float(np.sqrt(np.sum(z * z))))
                x = z / vn
                sigma = vn
            s_val = sigma
            if not math.isfinite(s_val):
                raise _Degenerate
            if factors and s_val < rank_tolerance * factors[0][2]:
                raise ValueError(
                    f"rank-{k} SVD failed at "
                    f"factor {j}: sigma_{j} = {s_val:.3e} < "
                    f"rank_tolerance * sigma_0 = "
                    f"{rank_tolerance * factors[0][2]:.3e} — k exceeds "
                    "the effective rank of the matrix"
                )
            factors.append((u, x, sigma))
        parts = []
        for j, (u_p, v_p, s_p) in enumerate(factors):
            parts += [
                (0, int(rows[i]), j, float(u_p[i]), None)
                for i in range(len(rows))
            ]
            parts += [
                (1, int(cols[i]), j, float(v_p[i]), float(s_p))
                for i in range(len(cols))
            ]
        return _emit(parts)

    return kern


def _block_batch_kernel(k: int, iterations: int, rank_tolerance: float):
    """Block power iteration with CholeskyQR in the driver — the
    exact expr-mode recursion (left-associated R subtraction chains, the
    same `when(> 0)` / `when(!= 0)` null guards as NaN) and the same
    loud rank-exhaustion ValueErrors. gram_mode only changes where the
    k x k factorization's scalar ops run (executor expressions vs
    driver numpy — 'same trajectory up to float-op ordering inside the
    k x k factorization', svd.py r11); the kernel replays the expr-mode
    order, the gate-verified default."""

    def kern(pdf):
        import math

        import numpy as np

        rows, cols, r_idx, c_idx, av = _coo_arrays(pdf)
        if len(rows) == 0:
            raise _Degenerate

        def chol_qr(mat):
            """mat: (n, k) input columns; returns (q (n,k), diag sigma
            list) replaying the expression recursion. A non-positive
            pivot or zero diagonal is the plan's NULL regime — defer."""
            g = {}
            for i in range(k):
                for j2 in range(i, k):
                    g[(i, j2)] = float(np.sum(mat[:, i] * mat[:, j2]))
            r = {}
            for j2 in range(k):
                for p in range(j2 + 1):
                    e = g[(p, j2)]
                    for i in range(p):
                        e = e - r[(i, p)] * r[(i, j2)]
                    if p == j2:
                        if not e > 0:
                            raise _Degenerate
                        r[(p, j2)] = math.sqrt(e)
                    else:
                        r[(p, j2)] = e / _check_finite_norm(r[(p, p)])
            q = np.empty_like(mat)
            for j2 in range(k):
                t = mat[:, j2].copy()
                for p in range(j2):
                    t = t - r[(p, j2)] * q[:, p]
                q[:, j2] = t / _check_finite_norm(r[(j2, j2)])
            sigs = [r[(j2, j2)] for j2 in range(k)]
            return q, sigs

        v = np.empty((len(cols), k), dtype=np.float64)
        for j in range(k):
            v[:, j] = 1.0 + np.mod(cols, j + 1).astype(np.float64)
        u_q = None
        sigs = None
        for _ in range(iterations):
            yw = np.empty((len(rows), k), dtype=np.float64)
            for j in range(k):
                yw[:, j] = _segsum(len(rows), r_idx, av * v[c_idx, j])
            u_q, _ = chol_qr(yw)
            zw = np.empty((len(cols), k), dtype=np.float64)
            for j in range(k):
                zw[:, j] = _segsum(len(cols), c_idx, av * u_q[r_idx, j])
            v, sigs = chol_qr(zw)
        for j in range(k):
            s_val = sigs[j]
            if not math.isfinite(s_val):
                raise _Degenerate
            if j > 0 and s_val < rank_tolerance * sigs[0]:
                raise ValueError(
                    f"rank-{k} block SVD failed "
                    f"at factor {j}: sigma_{j} = {s_val:.3e} < "
                    "rank_tolerance * sigma_0 — k exceeds the effective "
                    "rank of the matrix"
                )
        parts = []
        for j in range(k):
            parts += [
                (0, int(rows[i]), j, float(u_q[i, j]), None)
                for i in range(len(rows))
            ]
            parts += [
                (1, int(cols[i]), j, float(v[i, j]), float(sigs[j]))
                for i in range(len(cols))
            ]
        return _emit(parts)

    return kern


def power_iteration_svd(
    interactions: DataFrame,
    row_col: str,
    col_col: str,
    val_col: str,
    iterations: int = 3,
    batch_finish: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """Dominant singular pair of the sparse matrix given as COO rows.

    Returns ``(u, v)``: ``u = (row_col, u)`` the left singular vector and
    ``v = (col_col, v, sigma)`` the right singular vector with the
    singular-value estimate ``sigma = ||A^T u||`` replicated per row.
    Entries absent from the COO table get no vector row (they are exact
    zeros). Signs follow the all-ones start vector (v_0 = 1), so the
    output is deterministic — no random init to pin down.

    ``batch_finish``: once the COO table fits the bound, the whole
    trajectory runs in the driver (see the module note above). 0
    disables; the two-shuffle-per-half-iteration plan is the only path
    above the bound.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    a = interactions.select(
        F.col(row_col).alias("__r"),
        F.col(col_col).alias("__c"),
        F.col(val_col).cast("double").alias("__a"),
    )
    out = _batch_out(a, batch_finish, _power_batch_kernel(iterations))
    if out is not None:
        u_out = out.filter(F.col("side") == 0).select(
            F.col("key").alias(row_col), F.col("x").alias("u")
        )
        v_out = out.filter(F.col("side") == 1).select(
            F.col("key").alias(col_col),
            F.col("x").alias("v"),
            F.col("sigma").alias("sigma"),
        )
        return u_out, v_out
    a = a.localCheckpoint()
    v = a.select("__c").distinct().withColumn("__x", F.lit(1.0))
    u = None
    v_full = None
    for _ in range(iterations):
        # u = A v, normalized
        u_raw = (
            a.join(v, on="__c")
            .groupBy("__r")
            .agg(F.sum(F.col("__a") * F.col("__x")).alias("__y"))
        )
        u_norm = u_raw.agg(
            F.sqrt(F.sum(F.col("__y") * F.col("__y"))).alias("__n")
        )
        u = (
            u_raw.crossJoin(F.broadcast(u_norm))
            .select("__r", (F.col("__y") / F.col("__n")).alias("__x"))
            .localCheckpoint()
        )
        # v = A^T u, normalized; ||A^T u|| estimates sigma_1
        v_raw = (
            a.join(u, on="__r")
            .groupBy("__c")
            .agg(F.sum(F.col("__a") * F.col("__x")).alias("__y"))
        )
        v_norm = v_raw.agg(
            F.sqrt(F.sum(F.col("__y") * F.col("__y"))).alias("__n")
        )
        v_full = (
            v_raw.crossJoin(F.broadcast(v_norm))
            .select(
                "__c",
                (F.col("__y") / F.col("__n")).alias("__x"),
                F.col("__n").alias("__sigma"),
            )
            .localCheckpoint()
        )
        v = v_full.select("__c", "__x")
    u_out = u.select(F.col("__r").alias(row_col), F.col("__x").alias("u"))
    v_out = v_full.select(
        F.col("__c").alias(col_col),
        F.col("__x").alias("v"),
        F.col("__sigma").alias("sigma"),
    )
    return u_out, v_out


def deflated_power_iteration_svd(
    interactions: DataFrame,
    row_col: str,
    col_col: str,
    val_col: str,
    k: int = 2,
    iterations: int = 3,
    rank_tolerance: float = 1e-9,
    batch_finish: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """Rank-k truncated SVD by power iteration with IMPLICIT deflation.

    Factor j is the dominant singular pair of the deflated operator

        A_j = A - sum_{p<j} sigma_p u_p v_p^T

    but A_j is NEVER materialized (it is dense — the whole point of the
    sparse COO representation would be lost). Instead every matvec
    applies the correction through the identity

        A_j x = A x - sum_{p<j} sigma_p (v_p . x) u_p

    i.e. one sparse matvec plus, per prior factor, one broadcast scalar
    inner product and one scaled copy of the stored factor vector folded
    into the same groupBy-sum — so the per-iteration physical shape stays
    exactly the rank-1 operator's (two vertex-keyed shuffles), with k-1
    extra singleton aggregates. The all-ones start and nonnegative input
    fix factor 0's sign; later factors inherit determinism from the
    deflation (no random init anywhere), which is what lets an external
    SQL oracle replay the whole unrolled algebra term by term.

    Returns ``(u, v)``:
    ``u = (row_col, factor, u)``, ``v = (col_col, factor, v, sigma)``
    with ``factor`` in 0..k-1 ordered by decreasing sigma.

    Raises ``ValueError`` when ``k`` exceeds the effective rank of the
    matrix (r10 ADVICE #2): once the deflated operator is ~zero the
    power iteration divides by a vanishing norm and would silently emit
    NaN factor vectors — instead the sigma estimate of each factor is
    probed (a 1-row driver action per factor, same bounded-probe class
    as the CC truncation guard) and the run fails LOUDLY when
    ``sigma_j < rank_tolerance * sigma_0`` or sigma_j is not finite.
    """
    import math

    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if k < 1:
        raise ValueError("k must be >= 1")
    a = interactions.select(
        F.col(row_col).alias("__r"),
        F.col(col_col).alias("__c"),
        F.col(val_col).cast("double").alias("__a"),
    )
    out = _batch_out(
        a, batch_finish, _deflated_batch_kernel(k, iterations, rank_tolerance)
    )
    if out is not None:
        u_out = out.filter(F.col("side") == 0).select(
            F.col("key").alias(row_col),
            F.col("factor").cast("int").alias("factor"),
            F.col("x").alias("u"),
        )
        v_out = out.filter(F.col("side") == 1).select(
            F.col("key").alias(col_col),
            F.col("factor").cast("int").alias("factor"),
            F.col("x").alias("v"),
            F.col("sigma").alias("sigma"),
        )
        return u_out, v_out
    a = a.localCheckpoint()
    all_cols = a.select("__c").distinct().localCheckpoint()
    # (u_df(__r,__x), v_df(__c,__x), sigma_scalar_df(__s)) per factor
    factors: list[tuple[DataFrame, DataFrame, DataFrame, float]] = []
    for _ in range(k):
        v = all_cols.withColumn("__x", F.lit(1.0))
        u = None
        v_full = None
        for _i in range(iterations):
            # y = A v - sum_p sigma_p (v_p . v) u_p
            terms = (
                a.join(v, on="__c")
                .groupBy("__r")
                .agg(F.sum(F.col("__a") * F.col("__x")).alias("__y"))
            )
            for (u_p, v_p, s_p, _sv) in factors:
                dot = (
                    v_p.withColumnRenamed("__x", "__xp")
                    .join(v, on="__c")
                    .agg(F.sum(F.col("__xp") * F.col("__x")).alias("__d"))
                )
                corr = (
                    u_p.crossJoin(F.broadcast(dot))
                    .crossJoin(F.broadcast(s_p))
                    .select(
                        "__r",
                        (-F.col("__s") * F.col("__d") * F.col("__x")).alias(
                            "__y"
                        ),
                    )
                )
                terms = terms.unionByName(corr)
            u_raw = terms.groupBy("__r").agg(F.sum("__y").alias("__y"))
            u_norm = u_raw.agg(
                F.sqrt(F.sum(F.col("__y") * F.col("__y"))).alias("__n")
            )
            # null (not divide-by-zero) on an exactly-exhausted operator:
            # the per-factor sigma probe below turns it into a loud
            # ValueError; under ANSI the bare division would abort here
            # with an uninformative DIVIDE_BY_ZERO instead
            u = (
                u_raw.crossJoin(F.broadcast(u_norm))
                .select(
                    "__r",
                    F.when(
                        F.col("__n") != 0, F.col("__y") / F.col("__n")
                    ).alias("__x"),
                )
                .localCheckpoint()
            )
            # z = A^T u - sum_p sigma_p (u_p . u) v_p
            terms_t = (
                a.join(u, on="__r")
                .groupBy("__c")
                .agg(F.sum(F.col("__a") * F.col("__x")).alias("__y"))
            )
            for (u_p, v_p, s_p, _sv) in factors:
                dot = (
                    u_p.withColumnRenamed("__x", "__xp")
                    .join(u, on="__r")
                    .agg(F.sum(F.col("__xp") * F.col("__x")).alias("__d"))
                )
                corr = (
                    v_p.crossJoin(F.broadcast(dot))
                    .crossJoin(F.broadcast(s_p))
                    .select(
                        "__c",
                        (-F.col("__s") * F.col("__d") * F.col("__x")).alias(
                            "__y"
                        ),
                    )
                )
                terms_t = terms_t.unionByName(corr)
            v_raw = terms_t.groupBy("__c").agg(F.sum("__y").alias("__y"))
            v_norm = v_raw.agg(
                F.sqrt(F.sum(F.col("__y") * F.col("__y"))).alias("__n")
            )
            # one checkpoint carries both the normalized vector and the
            # norm (the sigma estimate) — same shape as the rank-1
            # operator's v_full; a separate singleton checkpoint per
            # half-iteration measured ~30% of the whole query's wall
            v_full = (
                v_raw.crossJoin(F.broadcast(v_norm))
                .select(
                    "__c",
                    F.when(
                        F.col("__n") != 0, F.col("__y") / F.col("__n")
                    ).alias("__x"),
                    F.col("__n").alias("__sigma"),
                )
                .localCheckpoint()
            )
            v = v_full.select("__c", "__x")
        sigma = (
            v_full.select(F.col("__sigma").alias("__s")).limit(1)
        )
        # rank-exhaustion guard (r10 ADVICE #2): v_full is already
        # checkpointed, so this 1-row probe re-executes nothing
        probe = sigma.collect()
        s_val = probe[0]["__s"] if probe else None
        j = len(factors)
        if s_val is None or not math.isfinite(s_val):
            raise ValueError(
                f"rank-{k} SVD failed at factor {j}: sigma is "
                f"{s_val!r} — the deflated operator is numerically "
                "zero, so k exceeds the effective rank of the matrix"
            )
        if factors and s_val < rank_tolerance * factors[0][3]:
            raise ValueError(
                f"rank-{k} SVD failed at factor {j}: sigma_{j} = "
                f"{s_val:.3e} < rank_tolerance * sigma_0 = "
                f"{rank_tolerance * factors[0][3]:.3e} — k exceeds the "
                "effective rank of the matrix"
            )
        factors.append((u, v, sigma, s_val))
    u_parts = [
        u_p.crossJoin(F.broadcast(s_p)).select(
            F.col("__r").alias(row_col),
            F.lit(j).alias("factor"),
            F.col("__x").alias("u"),
            F.col("__s").alias("__sigma"),
        )
        for j, (u_p, v_p, s_p, _sv) in enumerate(factors)
    ]
    v_parts = [
        v_p.crossJoin(F.broadcast(s_p)).select(
            F.col("__c").alias(col_col),
            F.lit(j).alias("factor"),
            F.col("__x").alias("v"),
            F.col("__s").alias("sigma"),
        )
        for j, (u_p, v_p, s_p, _sv) in enumerate(factors)
    ]
    u_out = u_parts[0]
    for p in u_parts[1:]:
        u_out = u_out.unionByName(p)
    v_out = v_parts[0]
    for p in v_parts[1:]:
        v_out = v_out.unionByName(p)
    return u_out.drop("__sigma"), v_out


def block_power_iteration_svd(
    interactions: DataFrame,
    row_col: str,
    col_col: str,
    val_col: str,
    k: int = 4,
    iterations: int = 3,
    rank_tolerance: float = 1e-9,
    gram_mode: str = "expr",
    batch_finish: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """Rank-k truncated SVD by BLOCK (simultaneous subspace) power
    iteration — the scale shape for k >> 2 (r10 verdict #3).

    ``deflated_power_iteration_svd`` computes factor j only after
    factors 0..j-1 converge, so wall-clock is O(k * iterations) shuffle
    rounds and the matvec plan accumulates O(k^2) correction branches.
    Here ALL k factors ride the SAME two shuffles per iteration — the
    ``ppr_multi`` batched-state trick, with the factor dimension laid
    out as k columns of one row-keyed frame (wide beats (key, factor)
    long state for small k: the matvec join fans out nnz rows once, not
    k times):

        Y = A V              one join + one groupBy(row), k sums  (shuffle 1)
        Q, R = cholqr(Y)     CholeskyQR: ONE k(k+1)/2-scalar Gram
                             aggregate, R entries and the Q projection
                             pure broadcast column expressions — no
                             extra shuffle, no per-pair row scans
        Z = A^T Q            one join + one groupBy(col), k sums  (shuffle 2)
        V, R' = cholqr(Z)    sigma_j = R'[j][j]

    (CholeskyQR over classical Gram-Schmidt: CGS needs 2k-1 singleton
    row-scan aggregates per half-iteration — measured 10.0 s vs the
    deflated operator's 7.1 s at sf0.1 purely on job-launch overhead —
    while the Gram form needs exactly ONE. The R recursion inlines as
    an O(k^3)-term expression tree, fine for k <= ~8; for k >> 8 pass
    ``gram_mode="driver"``: the k(k+1)/2 Gram scalars — a bounded
    1-row collect, NOT a data-sized one — come back to the driver,
    numpy factors the k x k Cholesky, and R re-enters the plan as
    LITERALS, so the Q projection is O(k^2) literal-coefficient
    columns whatever k is. The trajectory is the same up to float-op
    ordering inside the k x k factorization (data-sized arithmetic is
    identical), so "driver" is the embeddings-scale shape while
    "expr" remains the gate-verified zero-collect default.)

    Start vectors are deterministic and integer-derived —
    ``x_j(c) = 1 + (c mod (j+1))`` (factor 0 = all-ones, matching the
    rank-1 operator) — so the whole trajectory is exactly replayable by
    an external SQL oracle; ``col_col`` must therefore be integral.

    Returns ``(u, v)`` with the same schema/contract as
    ``deflated_power_iteration_svd``; factors converge to descending
    sigma. Raises ``ValueError`` (loudly, per the r10 ADVICE #2
    contract) when k exceeds the effective rank: a vanishing Cholesky
    diagonal null-guards into the final per-factor sigma probe instead
    of silently emitting NaN vectors.

    100 TB shape: per iteration exactly two data-sized shuffles
    (nnz-row joins keyed on the dimension the COO side is partitioned
    by) plus two singleton Gram aggregates over the checkpointed
    |rows| x k / |cols| x k state — no densification, no driver-side
    vectors, plan size O(k^3) scalars per iteration independent of
    data volume.
    """
    import math

    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if k < 1:
        raise ValueError("k must be >= 1")
    if gram_mode not in ("expr", "driver"):
        raise ValueError("gram_mode must be 'expr' or 'driver'")
    a = interactions.select(
        F.col(row_col).alias("__r"),
        F.col(col_col).alias("__c"),
        F.col(val_col).cast("double").alias("__a"),
    )
    # the batch kernel replays expr mode's scalar order; gram_mode only
    # moves the k x k factorization's float ops (driver numpy vs
    # executor expressions — "same trajectory up to float-op ordering"),
    # so both modes batch through the same kernel
    out = _batch_out(
        a, batch_finish, _block_batch_kernel(k, iterations, rank_tolerance)
    )
    if out is not None:
        u_out = out.filter(F.col("side") == 0).select(
            F.col("key").alias(row_col),
            F.col("factor").cast("int").alias("factor"),
            F.col("x").alias("u"),
        )
        v_out = out.filter(F.col("side") == 1).select(
            F.col("key").alias(col_col),
            F.col("factor").cast("int").alias("factor"),
            F.col("x").alias("v"),
            F.col("sigma").alias("sigma"),
        )
        return u_out, v_out
    a = a.localCheckpoint()

    def _chol_qr_driver(
        frame: DataFrame, key: str, in_prefix: str, out_prefix: str
    ):
        """CholeskyQR with the k x k factorization on the DRIVER: collect
        the k(k+1)/2 Gram scalars (ONE row — bounded by k, never by
        data), numpy-Cholesky them, and re-enter R as literals. The Q
        back-substitution is then O(k^2) literal-coefficient columns —
        the k >> 8 shape where the inline R recursion's O(k^3)-term
        expression tree would drown Catalyst."""
        import numpy as np

        row = frame.agg(
            *[
                F.sum(
                    F.col(f"{in_prefix}{i}") * F.col(f"{in_prefix}{j}")
                ).alias(f"__g{i}_{j}")
                for i in range(k)
                for j in range(i, k)
            ]
        ).first()
        g = np.zeros((k, k))
        for i in range(k):
            for j in range(i, k):
                val = row[f"__g{i}_{j}"]
                g[i, j] = g[j, i] = 0.0 if val is None else float(val)
        try:
            r_mat = np.linalg.cholesky(g).T
        except np.linalg.LinAlgError:
            raise ValueError(
                f"rank-{k} block SVD: the Gram matrix is not positive "
                "definite — k exceeds the effective rank of the matrix"
            )
        cur = frame
        for j in range(k):
            t = F.col(f"{in_prefix}{j}")
            for p in range(j):
                t = t - F.lit(float(r_mat[p, j])) * F.col(f"{out_prefix}{p}")
            cur = cur.withColumn(
                f"{out_prefix}{j}", t / F.lit(float(r_mat[j, j]))
            )
        return cur.select(
            key,
            *[f"{out_prefix}{j}" for j in range(k)],
            *[
                F.lit(float(r_mat[j, j])).alias(f"__sig{j}")
                for j in range(k)
            ],
        )

    def _chol_qr(frame: DataFrame, key: str, in_prefix: str, out_prefix: str):
        """CholeskyQR over the k value columns of a wide keyed frame:
        one Gram aggregate, then R (upper-triangular, left-associated
        subtraction chains so the SQL oracle matches float-op order)
        and Q as broadcast column expressions. Returns a frame with
        ``key``, ``{out_prefix}0..k-1`` and ``__sig0..k-1`` = R[j][j]."""
        gram = frame.agg(
            *[
                F.sum(
                    F.col(f"{in_prefix}{i}") * F.col(f"{in_prefix}{j}")
                ).alias(f"__g{i}_{j}")
                for i in range(k)
                for j in range(i, k)
            ]
        )
        cur = frame.crossJoin(F.broadcast(gram))
        for j in range(k):
            for p in range(j + 1):
                e = F.col(f"__g{p}_{j}")
                for i in range(p):
                    e = e - F.col(f"__r{i}_{p}") * F.col(f"__r{i}_{j}")
                if p == j:
                    # sqrt(<=0) -> null; flows to the loud sigma probe
                    e = F.when(e > 0, F.sqrt(e))
                else:
                    e = F.when(
                        F.col(f"__r{p}_{p}") != 0,
                        e / F.col(f"__r{p}_{p}"),
                    )
                cur = cur.withColumn(f"__r{p}_{j}", e)
        for j in range(k):
            t = F.col(f"{in_prefix}{j}")
            for p in range(j):
                t = t - F.col(f"__r{p}_{j}") * F.col(f"{out_prefix}{p}")
            cur = cur.withColumn(
                f"{out_prefix}{j}",
                F.when(F.col(f"__r{j}_{j}") != 0, t / F.col(f"__r{j}_{j}")),
            )
        return cur.select(
            key,
            *[f"{out_prefix}{j}" for j in range(k)],
            *[
                F.col(f"__r{j}_{j}").alias(f"__sig{j}")
                for j in range(k)
            ],
        )

    v = a.select("__c").distinct().select(
        "__c",
        *[
            (F.lit(1.0) + F.pmod(F.col("__c"), F.lit(j + 1)).cast("double"))
            .alias(f"x{j}")
            for j in range(k)
        ],
    )
    u_ortho = None
    v_ortho = None
    for _i in range(iterations):
        yw = (
            a.join(v.select("__c", *[f"x{j}" for j in range(k)]), on="__c")
            .groupBy("__r")
            .agg(
                *[
                    F.sum(F.col("__a") * F.col(f"x{j}")).alias(f"y{j}")
                    for j in range(k)
                ]
            )
            .localCheckpoint()
        )
        # not checkpointed: consumed once by zw (and lazily by u_out);
        # the Gram broadcast inside re-executes only as a cheap
        # map+singleton scan of the yw checkpoint
        qr = _chol_qr if gram_mode == "expr" else _chol_qr_driver
        u_ortho = qr(yw, "__r", "y", "q")
        zw = (
            a.join(
                u_ortho.select("__r", *[f"q{j}" for j in range(k)]),
                on="__r",
            )
            .groupBy("__c")
            .agg(
                *[
                    F.sum(F.col("__a") * F.col(f"q{j}")).alias(f"z{j}")
                    for j in range(k)
                ]
            )
            .localCheckpoint()
        )
        v_ortho = qr(zw, "__c", "z", "x").localCheckpoint()
        v = v_ortho
    # rank-exhaustion probe (1 row: sigma columns are broadcast
    # constants replicated per row)
    probe = v_ortho.select(*[f"__sig{j}" for j in range(k)]).limit(1).collect()
    sigmas = [probe[0][f"__sig{j}"] if probe else None for j in range(k)]
    for j, s_val in enumerate(sigmas):
        if s_val is None or not math.isfinite(s_val):
            raise ValueError(
                f"rank-{k} block SVD failed at factor {j}: sigma is "
                f"{s_val!r} — k exceeds the effective rank of the matrix"
            )
        if j > 0 and s_val < rank_tolerance * sigmas[0]:
            raise ValueError(
                f"rank-{k} block SVD failed at factor {j}: sigma_{j} = "
                f"{s_val:.3e} < rank_tolerance * sigma_0 — k exceeds "
                "the effective rank of the matrix"
            )
    u_out = None
    v_out = None
    for j in range(k):
        up = u_ortho.select(
            F.col("__r").alias(row_col),
            F.lit(j).alias("factor"),
            F.col(f"q{j}").alias("u"),
        )
        vp = v_ortho.select(
            F.col("__c").alias(col_col),
            F.lit(j).alias("factor"),
            F.col(f"x{j}").alias("v"),
            F.col(f"__sig{j}").alias("sigma"),
        )
        u_out = up if u_out is None else u_out.unionByName(up)
        v_out = vp if v_out is None else v_out.unionByName(vp)
    return u_out, v_out
