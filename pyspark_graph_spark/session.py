"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` single-JVM; the same config keys are the ones
you'd tune on a 1000-executor cluster (shuffle partitions sized to the data,
AQE on for runtime re-planning, skew-join handling, broadcast threshold).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import SparkSession

# Entries of Spark's codegen cache (spark.sql.codegen.cache.maxEntries).
# Counted with Spark's CodegenMetrics compile counter on the powerlaw-bsp
# benchmark workload (indexing, degrees, and PageRank, alternating
# connected components and label propagation on their distributed loops):
# its small warm-up pass compiles 155 classes and the first full pass 10
# more, 165 in all; no later pass compiles any. At Spark's default of 100
# entries each pass evicted and recompiled 138 classes. 1024 holds six
# such working sets.
CODEGEN_CACHE_ENTRIES = 1024


def get_spark(
    app_name: str = "pyspark_graph_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # SPARK_GRAFT_SHUFFLE widens the shuffle fan-out beyond the core
        # count for datasets whose per-partition working set would
        # otherwise exceed the executor heap (the real-sf1 runs)
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", str(cpus))
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # toPandas collects Arrow batches, as it always does under Spark
        # Connect, instead of pickled rows: the driver finishes return
        # 10^4-10^5-row local frames, and a row collect of those costs more
        # than the one Arrow job
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # createDataFrame(pyarrow.Table) below 1 MB becomes a LocalRelation
        # (PageRank and CC results on 8k-edge graphs are ~16 KB); above it
        # the Arrow batches are kept as they are. The default (48 MB) turns
        # every such table into rows in the driver, measured at ~28 ms/MB
        # each way against ~20-30 ms for the job that reads the batches
        .config("spark.sql.execution.arrow.localRelationThreshold", "1MB")
        # the JVM-wide cache of compiled classes holds the engine's working
        # set, so a plan a BSP loop has run before is not compiled again
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()


# ---------------------------------------------------------------------------
# Spark Connect capability shims
# ---------------------------------------------------------------------------
# The reference's one stated design commitment is "pure DataFrame API for
# Spark Connect compatibility" (reference README.md:17-19). Every algorithm
# in this engine honors that, but the perf-hygiene layer (scan widening,
# file-size-targeted writes, per-application caches) touches py4j-backed
# driver internals (`sparkContext`, `df._jdf`, `df.rdd`) that do not exist
# under Connect. These helpers are the single place that touches them: on a
# classic session they return the real values; on Connect they fall back to
# documented degraded behavior instead of raising — parallelism from
# spark.sql.shuffle.partitions, cache keys from a per-session UUID, and the
# plan probes report "unavailable" so their callers no-op.

_SESSION_KEYS: dict[int, str] = {}


def supports_jvm_internals(spark: SparkSession) -> bool:
    """True on a classic py4j-backed session, False under Spark Connect
    (where ``sparkContext`` raises and DataFrames have no ``_jdf``)."""
    try:
        spark.sparkContext  # noqa: B018 — the probe IS the access
        return True
    except Exception:
        return False


def default_parallelism(spark: SparkSession) -> int:
    """``sparkContext.defaultParallelism`` on classic; under Connect, the
    session's shuffle partition count — the same knob a cluster operator
    sizes to core count, and the fan-out every shuffle in the plan already
    uses, so repartition/coalesce targets stay consistent."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        try:
            return int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            return 200  # Spark's shuffle-partition default


def app_key(spark: SparkSession) -> str:
    """Stable per-application cache key: ``applicationId`` on classic; under
    Connect (no sparkContext) the server-side ``spark.app.id`` conf when
    readable, else a UUID pinned to this client session object — caches then
    scope to the client session, which is the conservative degradation (a
    reconnect rebuilds instead of reusing a stale server artifact)."""
    try:
        return spark.sparkContext.applicationId
    except Exception:
        pass
    try:
        v = spark.conf.get("spark.app.id", None)
        if v:
            return v
    except Exception:
        pass
    return _SESSION_KEYS.setdefault(id(spark), f"session-{uuid.uuid4()}")
