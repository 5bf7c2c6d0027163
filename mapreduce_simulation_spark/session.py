"""SparkSession factory with scale-oriented defaults.

The reference engine's whole runtime (manager/worker scheduling, heartbeats,
fault tolerance — reference mapreduce/manager/__main__.py, worker/__main__.py)
collapses into ``SparkSession.builder.getOrCreate()`` here: Spark's
DAGScheduler, shuffle service, and task retry subsume it (SURVEY.md §2d).

Defaults are chosen for the 100 TB design point but harmless locally:
  - AQE on (runtime coalescing, skew-join splitting, dynamic join strategy)
  - Arrow on (vectorized pandas-UDF transfer for the Python-side operators)
  - shuffle partitions sized for the local harness; on a real cluster this is
    overridden by AQE's coalescing + `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  - generated-code cache sized to the engine's working set
    (CODEGEN_CACHE_ENTRIES): one session compiles more than Spark's default
    of 100 distinct classes, so the default LRU evicts and every repeated
    query re-runs Janino and then the JIT on the evicted classes
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries, a static conf read once per JVM.
# Spark's default of 100 is below what one session compiles: the tier-1
# suite's session compiles 4 289 distinct classes, the sf0.01 sweep of all
# 235 queries 3 219. About 2x headroom, since the cache evicts per segment.
CODEGEN_CACHE_ENTRIES = 8192


def build_session(
    app_name: str = "mapreduce-simulation-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback ``*``)
    so the same entry point works in tests and in the driver harness. On a
    real cluster, leave ``master`` unset and submit via spark-submit.
    """
    # Optional-runtime fallbacks must land BEFORE the JVM starts: the
    # mini-protobuf shim (transformWithState state protocol) propagates to
    # Python workers via the JVM's inherited PYTHONPATH. No-op whenever
    # the real protobuf wheel is installed.
    from .vendor import ensure_protobuf

    ensure_protobuf()

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join handling, join re-plan.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow: vectorized transfer for pandas UDFs / applyInPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast small dims (nation/region/supplier) automatically.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Keep every generated class of a session compiled (see CODEGEN_CACHE_ENTRIES).
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Timestamps: keep parquet INT96/µs semantics stable across engines.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
