"""The engine's generated-code cache holds a session's working set.

Spark's default `spark.sql.codegen.cache.maxEntries` is 100, fewer distinct
classes than one engine session generates; with it the LRU evicts, and a
repeated query is compiled again (Janino, then the JIT). `build_session`
sizes the cache to CODEGEN_CACHE_ENTRIES. These tests pin both the conf and
its effect: a working set of more than 100 distinct classes, run twice,
compiles nothing the second time.
"""

from __future__ import annotations

# Plans in the working set. Each compiles its own classes (two on Spark
# 4.1), so the set is well above Spark's default cache of 100 and well
# below the engine's CODEGEN_CACHE_ENTRIES.
N_PLANS = 130


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_working_set(spark) -> None:
    # Each literal is inlined into the generated source, so no two plans
    # share a class.
    for i in range(N_PLANS):
        spark.range(4).selectExpr(f"id * {i + 2} + {i} AS v").filter(
            f"v <> {-i - 1}"
        ).collect()


def test_codegen_cache_size_is_the_engine_constant(spark):
    from mapreduce_simulation_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_second_run_of_working_set_compiles_nothing(spark):
    c0 = _compiles(spark)
    _run_working_set(spark)
    c1 = _compiles(spark)
    # the first run really generated a working set above Spark's default
    assert c1 - c0 > 100
    _run_working_set(spark)
    assert _compiles(spark) == c1
