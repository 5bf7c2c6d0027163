"""operators/ranking.py — the distributed total-order primitives must be
value-identical to the partition-less window forms they replace, on inputs
that exercise ties, skewed range partitions, empty partitions, and the
n < buckets edge of ntile."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mapreduce_simulation_spark.operators.ranking import (
    with_distributed_cumsum,
    with_distributed_ntile,
    with_distributed_rank,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v long")


@pytest.fixture(scope="module")
def tied(spark):
    # duplicate v values across the range so tie-breaks matter, plus a
    # heavy head so range partitions are skewed
    rows = [(i, (i * 7) % 13) for i in range(200)] + [
        (200 + i, 0) for i in range(50)
    ]
    return _df(spark, rows)


def test_rank_matches_global_window(spark, tied):
    order = [F.asc("v"), F.asc("k")]
    got = {
        r["k"]: r["rnk"]
        for r in with_distributed_rank(tied, order, "rnk", 8).collect()
    }
    want = {
        r["k"]: r["rnk"]
        for r in tied.withColumn(
            "rnk", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    assert got == want


def test_rank_desc_order(spark, tied):
    order = [F.desc("v"), F.asc("k")]
    got = {
        r["k"]: r["rnk"]
        for r in with_distributed_rank(tied, order, "rnk", 8).collect()
    }
    want = {
        r["k"]: r["rnk"]
        for r in tied.withColumn(
            "rnk", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize("buckets", [1, 3, 5, 7])
def test_ntile_matches_builtin(spark, tied, buckets):
    order = [F.asc("v"), F.asc("k")]
    got = {
        r["k"]: r["b"]
        for r in with_distributed_ntile(
            tied, order, buckets, "b", 8
        ).collect()
    }
    want = {
        r["k"]: r["b"]
        for r in tied.withColumn(
            "b", F.ntile(buckets).over(Window.orderBy(*order))
        ).collect()
    }
    assert got == want


def test_ntile_fewer_rows_than_buckets(spark):
    df = _df(spark, [(1, 10), (2, 5), (3, 7)])
    order = [F.asc("v"), F.asc("k")]
    got = {
        r["k"]: r["b"]
        for r in with_distributed_ntile(df, order, 5, "b", 4).collect()
    }
    want = {
        r["k"]: r["b"]
        for r in df.withColumn(
            "b", F.ntile(5).over(Window.orderBy(*order))
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize("include_current", [True, False])
def test_cumsum_matches_global_window(spark, tied, include_current):
    order = [F.asc("v"), F.asc("k")]
    upper = 0 if include_current else -1
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, upper)
    got = {
        r["k"]: r["c"]
        for r in with_distributed_cumsum(
            tied, order, "v", "c", include_current, 8
        ).collect()
    }
    want = {
        r["k"]: r["c"]
        for r in tied.withColumn(
            "c", F.coalesce(F.sum("v").over(w), F.lit(0))
        ).collect()
    }
    assert got == want


def test_empty_input(spark):
    df = _df(spark, []).where(F.lit(False))
    assert with_distributed_rank(df, [F.asc("k")], "r", 4).count() == 0
    assert with_distributed_ntile(df, [F.asc("k")], 3, "b", 4).count() == 0
    assert (
        with_distributed_cumsum(df, [F.asc("k")], "v", "c", True, 4).count()
        == 0
    )


def test_output_keeps_input_columns(spark, tied):
    out = with_distributed_ntile(tied, [F.asc("v"), F.asc("k")], 4, "b", 8)
    assert out.columns == ["k", "v", "b"]


def test_grouped_ntile_matches_partitioned_window(spark):
    from mapreduce_simulation_spark.operators.ranking import (
        with_distributed_grouped_ntile,
    )

    # skewed groups: one hot group with 200 rows, two small ones, a group
    # smaller than the bucket count (the q == 0 edge per group), and a
    # NULL group, which the partitioned window buckets like any other
    rows = (
        [("hot", (i * 7) % 13, i) for i in range(200)]
        + [("mid", i % 5, 1000 + i) for i in range(23)]
        + [("tiny", i, 2000 + i) for i in range(2)]
        + [(None, i % 3, 3000 + i) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "grp string, v long, id long")
    order = [F.asc("v"), F.asc("id")]
    got = {
        r["id"]: r["b"]
        for r in with_distributed_grouped_ntile(
            df, ["grp"], order, 4, "b", 8
        ).collect()
    }
    w = Window.partitionBy("grp").orderBy(*order)
    want = {
        r["id"]: r["b"]
        for r in df.withColumn("b", F.ntile(4).over(w)).collect()
    }
    assert got == want


def test_grouped_ntile_partition_count_invariant(spark):
    from mapreduce_simulation_spark.operators.ranking import (
        with_distributed_grouped_ntile,
    )

    rows = [(f"g{i % 3}", (i * 11) % 17, i) for i in range(120)]
    df = spark.createDataFrame(rows, "grp string, v long, id long")
    order = [F.asc("v"), F.asc("id")]
    base = None
    for p in (1, 4, 16):
        got = {
            r["id"]: r["b"]
            for r in with_distributed_grouped_ntile(
                df, ["grp"], order, 5, "b", p
            ).collect()
        }
        if base is None:
            base = got
        assert got == base, f"bucket assignment changed at P={p}"


def test_interleaved_frames_match_oracle_after_clear_cache(spark):
    """The offsets are computed inside each plan from the range exchange
    the rows themselves go through, so two ranked frames over one input can
    be executed in any order, and again after the session's cache is
    cleared, and each still equals its window oracle. The input is large
    enough that the range bounds come from a sample, and it carries a
    column the offsets do not read: the executed plans must show the
    offsets branch reusing the rows' range exchange, since a second
    exchange would sample bounds of its own."""
    df = spark.range(20_000).select(
        F.col("id").alias("k"),
        ((F.col("id") * 7919) % 1000).alias("v"),
        F.concat(F.lit("row-"), F.col("id").cast("string")).alias("extra"),
    )
    order = [F.asc("v"), F.asc("k")]
    a = with_distributed_rank(df, order, "r", 8)
    b = with_distributed_cumsum(
        with_distributed_ntile(df, order, 4, "b", 8), order, "v", "c", True, 8
    )
    w = Window.orderBy(*order)
    want_a = {
        r["k"]: (r["r"], r["extra"])
        for r in df.withColumn("r", F.row_number().over(w)).collect()
    }
    want_b = {
        r["k"]: (r["b"], r["c"], r["extra"])
        for r in df.withColumn("b", F.ntile(4).over(w))
        .withColumn(
            "c",
            F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .collect()
    }

    def got(frame, cols):
        return {r["k"]: tuple(r[c] for c in cols) for r in frame.collect()}

    assert got(b, ["b", "c", "extra"]) == want_b
    assert got(a, ["r", "extra"]) == want_a
    spark.catalog.clearCache()
    assert got(b, ["b", "c", "extra"]) == want_b
    for frame in (a, b):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert re.search(
            r"ReusedExchange \[k#\d+L, v#\d+L, extra#\d+\], "
            r"Exchange rangepartitioning",
            plan,
        ), plan
