"""Salted-join correctness and multi-format sink/source roundtrips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_simulation_spark.operators.skew import salted_join
from mapreduce_simulation_spark.sources import sinks


@pytest.fixture()
def skewed_data(spark):
    # 90% of the big side lands on one hot key — the shape that melts a
    # single shuffle partition in a plain join.
    big = spark.range(10_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 100)
        .alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("dim")
    )
    return big, small


def test_salted_join_matches_plain_join(spark, skewed_data):
    big, small = skewed_data
    plain = {
        (r.k, r.payload, r.dim)
        for r in big.join(small, "k").collect()
    }
    salted = {
        (r.k, r.payload, r.dim)
        for r in salted_join(big, small, "k", salt_factor=8).collect()
    }
    assert salted == plain


def test_salted_join_left_outer(spark, skewed_data):
    big, small = skewed_data
    # restrict the small side so some big keys have no match
    small_partial = small.where(F.col("k") < 50)
    plain = {
        (r.k, r.payload, r.dim)
        for r in big.join(small_partial, "k", "left").collect()
    }
    salted = {
        (r.k, r.payload, r.dim)
        for r in salted_join(big, small_partial, "k", "left", salt_factor=8).collect()
    }
    assert salted == plain


def test_salted_join_rejects_outer_variants(spark, skewed_data):
    # right/full would replicate unmatched small-side rows once per salt —
    # the operator must refuse rather than silently duplicate.
    big, small = skewed_data
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(big, small, "k", how)


def test_salted_join_spreads_hot_key(spark, skewed_data):
    big, small = skewed_data
    joined = salted_join(big, small, "k", salt_factor=8)
    # pre-drop, the shuffle key is (k, salt): verify the hot key's rows span
    # multiple salts by recomputing the salting stage
    from mapreduce_simulation_spark.operators import skew

    salted = big.withColumn(
        "__salt",
        F.pmod(
            F.xxhash64(F.col("k"), F.monotonically_increasing_id()),
            F.lit(8),
        ),
    )
    n_salts = (
        salted.where(F.col("k") == 7).select("__salt").distinct().count()
    )
    assert n_salts == 8
    assert joined.count() == big.join(small, "k").count()


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json"])
def test_sink_roundtrip_formats(spark, tmp_path, fmt):
    df = spark.createDataFrame(
        [(i, f"name{i}", float(i) * 1.5) for i in range(100)],
        "id bigint, name string, score double",
    )
    out = str(tmp_path / fmt)
    sinks.write_part_files(df, out, num_partitions=2, fmt=fmt)
    if fmt == "parquet":
        back = spark.read.parquet(out)
    elif fmt == "csv":
        back = spark.read.option("header", "true").schema(df.schema).csv(out)
    else:
        back = spark.read.schema(df.schema).json(out)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


FORMAT_COPY_QUERIES = [
    "csv_source_revenue",
    "json_source_segments",
    "orc_source_parts",
    "partitioned_source_pruned",
    "schema_evolution_union",
    "binary_file_source",
    "kvtext_source_stats",
    "csv_bad_records",
    "xml_source_customers",
    "text_dir_word_count",
]


@pytest.mark.parametrize("name", FORMAT_COPY_QUERIES)
def test_format_copy_is_staged_once(spark, sf_dir, name):
    """A format-conversion query writes its copy once: a repeat call
    stages no new directory and returns the same rows."""
    from mapreduce_simulation_spark import staging
    from mapreduce_simulation_spark.plans.registry import queries

    def rows():
        got = queries()[name](spark, sf_dir).collect()
        return sorted(map(tuple, got), key=repr)

    first = rows()
    n_dirs = len(staging._DIRS)
    assert rows() == first
    assert len(staging._DIRS) == n_dirs


def test_csv_copy_follows_table_rewrite(spark, local_sf):
    """The staged CSV copy is rebuilt when orders changes: after a
    rewrite, csv_source_revenue equals monthly_revenue over the new
    table (the two share one oracle)."""
    from conftest import keep_first_rows
    from mapreduce_simulation_spark.plans.extended import csv_source_revenue
    from mapreduce_simulation_spark.plans.relational import monthly_revenue

    csv_source_revenue(spark, local_sf).collect()
    keep_first_rows(local_sf, "orders", 50)
    got = csv_source_revenue(spark, local_sf).collect()
    want = monthly_revenue(spark, local_sf).collect()
    assert sum(r.n_orders for r in got) == 50
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
