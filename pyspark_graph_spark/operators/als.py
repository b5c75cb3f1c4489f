"""Biased ALS (rank-2, closed-form solves) — the distributed trainer for
the SVD++-class recommender model.

The reference's README comparison matrix lists SVDPlusPlus as
unsupported everywhere (reference README.md:32 — ❌ for GraphX,
GraphFrames, and the reference itself). SVD++ (Koren 2008) is the
model r = mu + b_u + b_i + u·v (+ an implicit-feedback term) trained by
SGD — and SGD's sample ordering makes it inherently sequential and not
replayable by an external oracle. The DISTRIBUTED trainer for the same
model class is ALS (Zhou et al. 2008, "Large-scale Parallel
Collaborative Filtering for the Netflix Prize"): alternate closed-form
ridge solves of each side's factors with the other side fixed — every
update is a groupBy-aggregate plus per-row arithmetic, fully
deterministic, so a SQL oracle replays the exact trajectory. This
operator trains mu + b_u + b_i + u·v at rank 2, where the per-key 2x2
normal equations invert in closed form (determinant expressions) — no
per-row matrix library, no UDF, pure JVM-side expressions.

SVD++'s distinguishing idea — learning from IMPLICIT feedback (which
items a user touched, not just the ratings they left) — has its own
canonical distributed trainer: implicit-feedback ALS (Hu, Koren &
Volinsky 2008, "Collaborative Filtering for Implicit Feedback
Datasets"), `als_implicit_rank2` below. Together the two operators
cover the SVD++ model class end to end: explicit biases + factors
(this function) and confidence-weighted implicit preference (the
other). Only SGD's per-sample update order — which no external oracle
can replay and no cluster can parallelize without changing the result
— is deliberately absent.

Physical shape per alternation: 4 hash joins of the COO ratings with
the current small-side tables + 4 groupBy-sums (user Gram / user bias /
item Gram / item bias), each keyed on the dimension being solved — the
same two-shuffles-per-half-step budget class as the SVD operators, with
every solve a per-row closed form. At 100 TB the ratings table is the
only big operand and it never re-partitions: each step shuffles the
|users|- or |items|-sized factor tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.util import driver_finish, int_columns

# Bounded-batch finish: same contract and ulp story as the SVD kernels
# (operators/svd.py module note) — below batch_finish one limited Arrow
# fetch brings the ratings to the driver (util.driver_finish) and the
# whole alternation trajectory runs there, replaying the identical
# closed-form double algebra; the per-alternation join/groupBy plan is
# unchanged above the bound and remains the only 100 TB path. ALS has
# no degenerate regime to defer (reg > 0 keeps every solve nonsingular
# by construction); only an empty ratings table goes to that plan.

_ALS_SCHEMA = (
    "side tinyint, key long, f1 double, f2 double, b double"
)


def _als_coo(pdf):
    import numpy as np

    u = pdf["__u"].to_numpy(dtype=np.int64)
    i = pdf["__i"].to_numpy(dtype=np.int64)
    r = pdf["__r"].to_numpy(dtype=np.float64)
    order = np.lexsort((i, u))
    u, i, r = u[order], i[order], r[order]
    users, u_idx = np.unique(u, return_inverse=True)
    items, i_idx = np.unique(i, return_inverse=True)
    return users, items, u_idx, i_idx, r


def _als_segsum(n, idx, vals):
    import numpy as np

    out = np.zeros(n, dtype=np.float64)
    np.add.at(out, idx, vals)
    return out


def _als_emit(users, uf, items, vf):
    import pandas as pd

    n_u, n_i = len(users), len(items)
    return pd.DataFrame(
        {
            "side": [0] * n_u + [1] * n_i,
            "key": list(users) + list(items),
            "f1": list(uf[0]) + list(vf[0]),
            "f2": list(uf[1]) + list(vf[1]),
            "b": list(uf[2]) + list(vf[2]),
        }
    )


def _als_batch_out(
    r: DataFrame, batch_finish: int, kernel
) -> DataFrame | None:
    """The tagged ``(side, key, f1, f2, b)`` factors of one batch kernel
    run in the driver on the ratings (``util.driver_finish``), or None
    above the bound, for non-integral keys, or for no ratings at all."""
    if not int_columns(r, "__u", "__i"):
        return None
    return driver_finish(
        batch_finish,
        lambda pdf: None if pdf.empty else kernel(pdf),
        _ALS_SCHEMA,
        r,
    )


def _bias_batch_kernel(iterations: int, reg: float):
    """Biased rank-2 ALS alternation in the driver — the identical
    ug/ub/vg/vb closed forms in the identical order."""

    def kern(pdf):
        import numpy as np

        users, items, u_idx, i_idx, rv = _als_coo(pdf)
        mu = float(np.mean(rv))
        v1 = 1.0 + np.mod(items, 2).astype(np.float64)
        v2 = 1.0 + np.mod(items, 3).astype(np.float64)
        bi = np.zeros(len(items), dtype=np.float64)
        u1 = np.zeros(len(users), dtype=np.float64)
        u2 = np.zeros(len(users), dtype=np.float64)
        bu = np.zeros(len(users), dtype=np.float64)
        n_u = _als_segsum(len(users), u_idx, np.ones_like(rv))
        n_i = _als_segsum(len(items), i_idx, np.ones_like(rv))

        def solve(n_side, s_idx, f1, f2, fb, ob):
            """per side_key 2x2 ridge solve: f1/f2/fb indexed per COO
            row on the FIXED side, ob the solving side's bias per row."""
            e = rv - mu - ob - fb
            g11 = _als_segsum(n_side, s_idx, f1 * f1)
            g12 = _als_segsum(n_side, s_idx, f1 * f2)
            g22 = _als_segsum(n_side, s_idx, f2 * f2)
            r1 = _als_segsum(n_side, s_idx, e * f1)
            r2 = _als_segsum(n_side, s_idx, e * f2)
            a11 = g11 + reg
            a22 = g22 + reg
            det = a11 * a22 - g12 * g12
            return (
                (a22 * r1 - g12 * r2) / det,
                (a11 * r2 - g12 * r1) / det,
            )

        def solve_bias(n_side, s_idx, f1, f2, fb, of1, of2, n_rows):
            e = rv - mu - fb - (of1 * f1 + of2 * f2)
            return _als_segsum(n_side, s_idx, e) / (reg + n_rows)

        for _ in range(iterations):
            u1, u2 = solve(
                len(users), u_idx, v1[i_idx], v2[i_idx], bi[i_idx], bu[u_idx]
            )
            bu = solve_bias(
                len(users),
                u_idx,
                v1[i_idx],
                v2[i_idx],
                bi[i_idx],
                u1[u_idx],
                u2[u_idx],
                n_u,
            )
            v1n, v2n = solve(
                len(items), i_idx, u1[u_idx], u2[u_idx], bu[u_idx], bi[i_idx]
            )
            bi = solve_bias(
                len(items),
                i_idx,
                u1[u_idx],
                u2[u_idx],
                bu[u_idx],
                v1n[i_idx],
                v2n[i_idx],
                n_i,
            )
            v1, v2 = v1n, v2n
        return _als_emit(users, (u1, u2, bu), items, (v1, v2, bi))

    return kern


def _implicit_batch_kernel(iterations: int, reg: float, alpha: float):
    """Implicit-feedback rank-2 ALS in the driver — the identical
    global-Gram + sparse-correction closed forms."""

    def kern(pdf):
        import numpy as np

        users, items, u_idx, i_idx, rv = _als_coo(pdf)
        v1 = 1.0 + np.mod(items, 2).astype(np.float64)
        v2 = 1.0 + np.mod(items, 3).astype(np.float64)
        u1 = u2 = None
        cw = alpha * rv

        def solve(n_side, s_idx, f1_tab, f2_tab, f1, f2):
            g11 = float(np.sum(f1_tab * f1_tab))
            g12 = float(np.sum(f1_tab * f2_tab))
            g22 = float(np.sum(f2_tab * f2_tab))
            s11 = _als_segsum(n_side, s_idx, cw * f1 * f1)
            s12 = _als_segsum(n_side, s_idx, cw * f1 * f2)
            s22 = _als_segsum(n_side, s_idx, cw * f2 * f2)
            b1 = _als_segsum(n_side, s_idx, (1.0 + cw) * f1)
            b2 = _als_segsum(n_side, s_idx, (1.0 + cw) * f2)
            a11 = g11 + s11 + reg
            a12 = g12 + s12
            a22 = g22 + s22 + reg
            det = a11 * a22 - a12 * a12
            return (
                (a22 * b1 - a12 * b2) / det,
                (a11 * b2 - a12 * b1) / det,
            )

        for _ in range(iterations):
            u1, u2 = solve(
                len(users), u_idx, v1, v2, v1[i_idx], v2[i_idx]
            )
            v1, v2 = solve(
                len(items), i_idx, u1, u2, u1[u_idx], u2[u_idx]
            )
        zeros_u = np.zeros(len(users), dtype=np.float64)
        zeros_i = np.zeros(len(items), dtype=np.float64)
        return _als_emit(users, (u1, u2, zeros_u), items, (v1, v2, zeros_i))

    return kern


def als_bias_rank2(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    iterations: int = 2,
    reg: float = 0.1,
    batch_finish: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """Train r ≈ mu + b_u + b_i + u·v (rank-2 factors) by alternating
    closed-form ridge solves.

    Deterministic: item factors start at v = (1 + (item mod 2),
    1 + (item mod 3)) (integer-derived, like the block-SVD starts — so
    ``item_col`` must be integral), biases start at 0, and every update
    is a closed form over aggregates — no randomness, no sample order.

    Per alternation (classic ALS-WR order):
      1. user factors:  u = (G_u + reg·I)^-1 Σ_i e_ui v_i,
         e_ui = r - mu - b_u - b_i   (G_u = Σ_i v_i v_i^T, 2x2)
      2. user biases:   b_u = Σ_i (r - mu - b_i - u·v) / (reg + n_u)
      3. item factors:  symmetric with users fixed
      4. item biases:   symmetric

    Returns ``(users, items)``:
    ``users = (user_col, u1, u2, bu)``, ``items = (item_col, v1, v2,
    bi)``. ``reg`` must be > 0 — it is what keeps every 2x2 solve
    nonsingular (det >= reg^2 > 0) with no rank guard needed.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not reg > 0:
        raise ValueError("reg must be > 0 (it guarantees nonsingular solves)")
    r = ratings.select(
        F.col(user_col).alias("__u"),
        F.col(item_col).alias("__i"),
        F.col(rating_col).cast("double").alias("__r"),
    )
    out = _als_batch_out(r, batch_finish, _bias_batch_kernel(iterations, reg))
    if out is not None:
        return (
            out.filter(F.col("side") == 0).select(
                F.col("key").alias(user_col),
                F.col("f1").alias("u1"),
                F.col("f2").alias("u2"),
                F.col("b").alias("bu"),
            ),
            out.filter(F.col("side") == 1).select(
                F.col("key").alias(item_col),
                F.col("f1").alias("v1"),
                F.col("f2").alias("v2"),
                F.col("b").alias("bi"),
            ),
        )
    r = r.localCheckpoint()
    # two pre-partitioned copies of the (only) big operand, the Pregel
    # edges_by_src/dst trick: each step's join against a factor table
    # then shuffles only the |users|/|items|-sized side, never the
    # ratings — the checkpoint pins the partitioning for every reuse
    r_by_i = r.repartition("__i").localCheckpoint()
    r_by_u = r.repartition("__u").localCheckpoint()
    mu = r.agg(F.avg("__r").alias("__mu"))  # 1-row broadcast
    items = r.select("__i").distinct().select(
        "__i",
        (F.lit(1.0) + F.pmod(F.col("__i"), F.lit(2)).cast("double")).alias(
            "v1"
        ),
        (F.lit(1.0) + F.pmod(F.col("__i"), F.lit(3)).cast("double")).alias(
            "v2"
        ),
        F.lit(0.0).alias("bi"),
    ).localCheckpoint()
    users = r.select("__u").distinct().select(
        "__u",
        F.lit(0.0).alias("u1"),
        F.lit(0.0).alias("u2"),
        F.lit(0.0).alias("bu"),
    ).localCheckpoint()

    def solve(side_key, fixed, fixed_key, f1, f2, fb, own_bias):
        """One factor solve: per side_key, 2x2 ridge normal equations
        against the fixed side's (f1, f2, fb) columns. own_bias is the
        solving side's current bias table (joined for the residual)."""
        rk = r_by_i if fixed_key == "__i" else r_by_u
        j = (
            rk.join(fixed, on=fixed_key)
            .join(own_bias, on=side_key)
            .crossJoin(F.broadcast(mu))
        )
        e = F.col("__r") - F.col("__mu") - F.col("__ob") - F.col(fb)
        g = j.groupBy(side_key).agg(
            F.sum(F.col(f1) * F.col(f1)).alias("__g11"),
            F.sum(F.col(f1) * F.col(f2)).alias("__g12"),
            F.sum(F.col(f2) * F.col(f2)).alias("__g22"),
            F.sum(e * F.col(f1)).alias("__r1"),
            F.sum(e * F.col(f2)).alias("__r2"),
        )
        a11 = F.col("__g11") + F.lit(reg)
        a22 = F.col("__g22") + F.lit(reg)
        det = a11 * a22 - F.col("__g12") * F.col("__g12")
        return g.select(
            side_key,
            ((a22 * F.col("__r1") - F.col("__g12") * F.col("__r2")) / det),
            ((a11 * F.col("__r2") - F.col("__g12") * F.col("__r1")) / det),
        )

    def solve_bias(side_key, fixed, fixed_key, f1, f2, fb, own_factors):
        """b = Σ (r - mu - other_bias - u·v) / (reg + n)."""
        rk = r_by_i if fixed_key == "__i" else r_by_u
        j = (
            rk.join(fixed, on=fixed_key)
            .join(own_factors, on=side_key)
            .crossJoin(F.broadcast(mu))
        )
        e = (
            F.col("__r")
            - F.col("__mu")
            - F.col(fb)
            - (F.col("__of1") * F.col(f1) + F.col("__of2") * F.col(f2))
        )
        return j.groupBy(side_key).agg(
            (F.sum(e) / (F.lit(reg) + F.count(F.lit(1)))).alias("__b")
        )

    for _ in range(iterations):
        uf = solve(
            "__u",
            items.select("__i", "v1", "v2", "bi"),
            "__i",
            "v1",
            "v2",
            "bi",
            users.select("__u", F.col("bu").alias("__ob")),
        ).toDF("__u", "u1", "u2")
        ub = solve_bias(
            "__u",
            items.select("__i", "v1", "v2", "bi"),
            "__i",
            "v1",
            "v2",
            "bi",
            uf.select(
                "__u",
                F.col("u1").alias("__of1"),
                F.col("u2").alias("__of2"),
            ),
        )
        users = (
            uf.join(ub, on="__u")
            .select("__u", "u1", "u2", F.col("__b").alias("bu"))
            .localCheckpoint()
        )
        vf = solve(
            "__i",
            users.select("__u", "u1", "u2", "bu"),
            "__u",
            "u1",
            "u2",
            "bu",
            items.select("__i", F.col("bi").alias("__ob")),
        ).toDF("__i", "v1", "v2")
        vb = solve_bias(
            "__i",
            users.select("__u", "u1", "u2", "bu"),
            "__u",
            "u1",
            "u2",
            "bu",
            vf.select(
                "__i",
                F.col("v1").alias("__of1"),
                F.col("v2").alias("__of2"),
            ),
        )
        items = (
            vf.join(vb, on="__i")
            .select("__i", "v1", "v2", F.col("__b").alias("bi"))
            .localCheckpoint()
        )
    return (
        users.select(
            F.col("__u").alias(user_col), "u1", "u2", "bu"
        ),
        items.select(
            F.col("__i").alias(item_col), "v1", "v2", "bi"
        ),
    )


def als_implicit_rank2(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    iterations: int = 2,
    reg: float = 0.1,
    alpha: float = 1.0,
    batch_finish: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """Implicit-feedback ALS (Hu, Koren & Volinsky 2008) at rank 2 —
    the confidence-weighted half of the SVD++ model class.

    Every observed (user, item, r) row is a binary preference p = 1
    held with confidence c = 1 + alpha * r; every UNOBSERVED pair is
    p = 0 with confidence 1. The loss sums over the full user x item
    cross product, yet the solve never materializes it: the normal
    equations split as

        x_u = (YtY + Yt(Cu - I)Y + reg*I)^-1  Yt Cu p_u

    where ``YtY`` is ONE global 2x2 Gram over all item factors (a
    1-row broadcast) and the correction + right-hand side sum only
    over the user's OBSERVED rows — the classic sparse + low-rank
    split that makes implicit ALS linear in nnz at any scale. Per
    half-step: one 3-scalar aggregate of the small factor table plus
    one join + groupBy over the pre-partitioned ratings; the COO
    table never re-shuffles after the two initial checkpoints.

    Deterministic: item factors start at (1 + (i % 2), 1 + (i % 3))
    (``item_col`` must be integral), users solve first, and every
    update is a closed-form 2x2 solve over aggregates. A = YtY +
    PSD correction + reg*I is positive definite for any reg > 0, so
    no rank guard is needed.

    Returns ``(users, items)``: ``(user_col, u1, u2)`` and
    ``(item_col, v1, v2)``.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not reg > 0:
        raise ValueError("reg must be > 0 (it keeps every solve nonsingular)")
    if not alpha > 0:
        raise ValueError("alpha must be > 0 (zero confidence never learns)")
    r = ratings.select(
        F.col(user_col).alias("__u"),
        F.col(item_col).alias("__i"),
        F.col(rating_col).cast("double").alias("__r"),
    )
    out = _als_batch_out(
        r, batch_finish, _implicit_batch_kernel(iterations, reg, alpha)
    )
    if out is not None:
        return (
            out.filter(F.col("side") == 0).select(
                F.col("key").alias(user_col),
                F.col("f1").alias("u1"),
                F.col("f2").alias("u2"),
            ),
            out.filter(F.col("side") == 1).select(
                F.col("key").alias(item_col),
                F.col("f1").alias("v1"),
                F.col("f2").alias("v2"),
            ),
        )
    r = r.localCheckpoint()
    r_by_i = r.repartition("__i").localCheckpoint()
    r_by_u = r.repartition("__u").localCheckpoint()
    items = r.select("__i").distinct().select(
        "__i",
        (F.lit(1.0) + F.pmod(F.col("__i"), F.lit(2)).cast("double")).alias(
            "v1"
        ),
        (F.lit(1.0) + F.pmod(F.col("__i"), F.lit(3)).cast("double")).alias(
            "v2"
        ),
    ).localCheckpoint()
    users = None

    def solve(side_key, fixed, fixed_key, f1, f2):
        """One implicit half-step: global Gram of the fixed side +
        per-key confidence-weighted correction and RHS, closed-form
        2x2 solve. Expression order is pinned left-associated so the
        SQL oracle replays the float ops exactly."""
        gram = fixed.agg(
            F.sum(F.col(f1) * F.col(f1)).alias("__G11"),
            F.sum(F.col(f1) * F.col(f2)).alias("__G12"),
            F.sum(F.col(f2) * F.col(f2)).alias("__G22"),
        )
        rk = r_by_i if fixed_key == "__i" else r_by_u
        cw = F.lit(alpha) * F.col("__r")  # c - 1
        j = rk.join(fixed, on=fixed_key)
        g = j.groupBy(side_key).agg(
            F.sum(cw * F.col(f1) * F.col(f1)).alias("__s11"),
            F.sum(cw * F.col(f1) * F.col(f2)).alias("__s12"),
            F.sum(cw * F.col(f2) * F.col(f2)).alias("__s22"),
            F.sum((F.lit(1.0) + cw) * F.col(f1)).alias("__b1"),
            F.sum((F.lit(1.0) + cw) * F.col(f2)).alias("__b2"),
        )
        a11 = F.col("__G11") + F.col("__s11") + F.lit(reg)
        a12 = F.col("__G12") + F.col("__s12")
        a22 = F.col("__G22") + F.col("__s22") + F.lit(reg)
        det = a11 * a22 - a12 * a12
        return g.crossJoin(F.broadcast(gram)).select(
            side_key,
            ((a22 * F.col("__b1") - a12 * F.col("__b2")) / det),
            ((a11 * F.col("__b2") - a12 * F.col("__b1")) / det),
        )

    for _ in range(iterations):
        users = (
            solve("__u", items.select("__i", "v1", "v2"), "__i", "v1", "v2")
            .toDF("__u", "u1", "u2")
            .localCheckpoint()
        )
        items = (
            solve("__i", users.select("__u", "u1", "u2"), "__u", "u1", "u2")
            .toDF("__i", "v1", "v2")
            .localCheckpoint()
        )
    return (
        users.select(F.col("__u").alias(user_col), "u1", "u2"),
        items.select(F.col("__i").alias(item_col), "v1", "v2"),
    )
