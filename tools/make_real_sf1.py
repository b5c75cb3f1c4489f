#!/usr/bin/env python
"""Generate a REAL sf1 dataset (10x entity cardinality, Zipf-ish skew) —
not the 10 disjoint shifted copies of tools/make_scale_data.py.

The pseudo-sf1 replica preserves per-copy structure, which is textbook
weak scaling but HIDES skew effects: hub vertices don't grow with the
data, and no cross-copy edges exist. This generator scales the graph
fact tables for real: 10,000 suppliers / 150,000 customers / 1.5M
orders / 6M lineitems in ONE connected key space, with heavy-tailed
(power-law, u^alpha inverse-CDF) supplier and customer participation so
hub degrees grow with corpus size — the regime where the exact
four_cycles wedge identity, FW-BW SCC, bow-tie closures, Boruvka MST,
Louvain and percolation actually feel skew.

Deterministic: every column is a pure function of xxhash64(salt, id).
Dimension tables (region, nation, part) copy through from sf0.1;
documents/embeddings/events copy from the pseudo replica when present
(doc/event weak scaling is covered there; this dataset targets the
graph-heavy set).

Output: /root/repo/testdata_sf1_real/*.parquet (gitignored).
Usage:  python tools/make_real_sf1.py
Then:   SPARK_GRAFT_SF_DIR=testdata_sf1_real python bench.py
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pyspark_graph_spark.session import get_spark

SRC = os.environ.get("SPARK_GRAFT_REAL_SRC", "/root/testdata/sf0.1")
PSEUDO = os.environ.get(
    "SPARK_GRAFT_REAL_PSEUDO", "/root/repo/testdata_sf1"
)
DST = os.environ.get(
    "SPARK_GRAFT_REAL_DST", "/root/repo/testdata_sf1_real"
)

N_SUPP = 10_000
N_CUST = 150_000
N_ORD = 1_500_000
N_LINE = 6_000_000
N_PART = 20_000  # dimension copied through from sf0.1 — keep FKs inside

_BILLION = 1_000_000_000


def _h(salt: str, id_col):
    """Deterministic non-negative 64-bit-ish hash of (salt, id)."""
    return F.abs(F.xxhash64(F.lit(salt), id_col))


def _u(salt: str, id_col):
    """Uniform(0, 1) double from the hash."""
    return (_h(salt, id_col) % _BILLION) / float(_BILLION)


def _powerlaw_key(salt: str, id_col, n: int, alpha: float):
    """Heavy-tailed key in [1, n]: inverse-CDF u^alpha concentrates mass
    on low keys — key 1 gets ~n^(-1/alpha) of all rows, so hub mass grows
    with the fact-table size instead of staying per-copy constant."""
    return (
        F.floor(F.lit(float(n)) * F.pow(_u(salt, id_col), F.lit(alpha)))
        .cast("long")
        + 1
    )


def main() -> None:
    spark = get_spark("make-real-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(DST, exist_ok=True)

    # dimensions: copy through (region/nation/part are scale-invariant)
    for t in ("region", "nation", "part"):
        shutil.copy(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")
        print(f"copied dimension {t}")

    # document/event/embedding tables from the pseudo replica if present
    for t in ("documents", "embeddings", "events"):
        src = f"{PSEUDO}/{t}.parquet"
        dst = f"{DST}/{t}.parquet"
        if os.path.exists(src):
            if os.path.isdir(src):
                shutil.copytree(src, dst, dirs_exist_ok=True)
            else:
                shutil.copy(src, dst)
            print(f"copied pseudo {t}")

    supplier = spark.range(1, N_SUPP + 1).select(
        F.col("id").alias("s_suppkey"),
        F.concat(F.lit("Supplier#"), F.col("id")).alias("s_name"),
        (_h("sn", F.col("id")) % 25).cast("int").alias("s_nationkey"),
        F.round((_h("sb", F.col("id")) % 1_100_000) / 100.0 - 999.99, 2)
        .alias("s_acctbal"),
    )
    supplier.coalesce(1).write.mode("overwrite").parquet(
        f"{DST}/supplier.parquet"
    )
    print("wrote supplier", N_SUPP)

    segs = F.array(
        *[F.lit(s) for s in
          ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")]
    )
    customer = spark.range(1, N_CUST + 1).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("Customer#"), F.col("id")).alias("c_name"),
        (_h("cn", F.col("id")) % 25).cast("int").alias("c_nationkey"),
        F.round((_h("cb", F.col("id")) % 1_100_000) / 100.0 - 999.99, 2)
        .alias("c_acctbal"),
        F.element_at(segs, (_h("cm", F.col("id")) % 5 + 1).cast("int"))
        .alias("c_mktsegment"),
    )
    customer.coalesce(4).write.mode("overwrite").parquet(
        f"{DST}/customer.parquet"
    )
    print("wrote customer", N_CUST)

    statuses = F.array(F.lit("F"), F.lit("O"), F.lit("P"))
    prios = F.array(
        *[F.lit(p) for p in
          ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")]
    )
    orders = spark.range(1, N_ORD + 1).select(
        F.col("id").alias("o_orderkey"),
        # Zipf-ish customer participation: hub customers emerge at scale
        _powerlaw_key("oc", F.col("id"), N_CUST, 2.0).alias("o_custkey"),
        F.element_at(statuses, (_h("os", F.col("id")) % 3 + 1).cast("int"))
        .alias("o_orderstatus"),
        F.round((_h("ot", F.col("id")) % 45_000_000) / 100.0 + 900.0, 2)
        .alias("o_totalprice"),
        F.timestamp_seconds(
            F.lit(694_224_000) + (_h("od", F.col("id")) % 2_556) * 86_400
        ).alias("o_orderdate"),
        F.element_at(prios, (_h("op", F.col("id")) % 5 + 1).cast("int"))
        .alias("o_orderpriority"),
    )
    orders.repartition(8).write.mode("overwrite").parquet(
        f"{DST}/orders.parquet"
    )
    print("wrote orders", N_ORD)

    rflags = F.array(F.lit("A"), F.lit("N"), F.lit("R"))
    lstat = F.array(F.lit("F"), F.lit("O"))
    lineitem = spark.range(1, N_LINE + 1).select(
        # ~Poisson(4) lines per order via uniform order assignment
        (_h("lo", F.col("id")) % N_ORD + 1).alias("l_orderkey"),
        (_h("lp", F.col("id")) % N_PART + 1).alias("l_partkey"),
        # heavy-tailed supplier side: the co-occurrence hubs
        _powerlaw_key("ls", F.col("id"), N_SUPP, 1.5).alias("l_suppkey"),
        (_h("ln", F.col("id")) % 7 + 1).cast("int").alias("l_linenumber"),
        (_h("lq", F.col("id")) % 50 + 1).cast("double").alias("l_quantity"),
        F.round((_h("le", F.col("id")) % 9_500_000) / 100.0 + 900.0, 2)
        .alias("l_extendedprice"),
        F.round((_h("ld", F.col("id")) % 11) / 100.0, 2).alias("l_discount"),
        F.round((_h("lt", F.col("id")) % 9) / 100.0, 2).alias("l_tax"),
        F.element_at(rflags, (_h("lr", F.col("id")) % 3 + 1).cast("int"))
        .alias("l_returnflag"),
        F.element_at(lstat, (_h("ll", F.col("id")) % 2 + 1).cast("int"))
        .alias("l_linestatus"),
        F.timestamp_seconds(
            F.lit(694_224_000) + (_h("lsd", F.col("id")) % 2_678) * 86_400
        ).alias("l_shipdate"),
    )
    lineitem.repartition(16).write.mode("overwrite").parquet(
        f"{DST}/lineitem.parquet"
    )
    print("wrote lineitem", N_LINE)
    print(f"done -> {DST}")


if __name__ == "__main__":
    main()
