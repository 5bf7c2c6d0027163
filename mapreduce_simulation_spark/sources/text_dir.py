"""Text-directory scan — the reference's input model (S1-S3).

The reference lists regular files in input_directory, sorts by name, and
feeds whole files to mappers line-by-line (reference
manager/__main__.py:320-327, worker/__main__.py:167-178). Spark's text
source does the same scan distributed; `input_file_name()` preserves file
identity when jobs need it, and sorting by (file, offset-order) reproduces
the deterministic file order the reference gets from its filename sort.

Split control: the reference packs whole files round-robin into
``num_mappers`` tasks (manager/__main__.py:330-334). Spark packs by bytes
(`spark.sql.files.maxPartitionBytes`); ``min_partitions`` exposes an
explicit degree-of-parallelism floor like num_mappers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_dir(
    spark: SparkSession,
    input_directory: str,
    with_file: bool = False,
    min_partitions: int | None = None,
) -> DataFrame:
    """Scan a directory of text files into DataFrame[value: string].

    ``with_file=True`` adds the source filename (the reference's implicit
    file identity); ``min_partitions`` floors the scan parallelism the way
    num_mappers fixes the reference's map-task count.
    """
    if min_partitions is not None and not with_file:
        # sc.textFile honors an explicit split-count floor (num_mappers
        # semantics); the DataFrame reader packs by bytes instead.
        jsc = spark.sparkContext._jsc
        return lines_frame(spark, jsc.textFile(input_directory, min_partitions))
    df = spark.read.text(input_directory)
    if with_file:
        df = df.select(F.input_file_name().alias("file"), F.col("value"))
    return df


def lines_frame(spark: SparkSession, jrdd) -> DataFrame:
    """A JVM JavaRDD[String] as DataFrame[value], with no Python worker."""
    rdd = spark._jvm.org.apache.spark.api.java.JavaRDD.toRDD(jrdd)
    strings = spark._jvm.org.apache.spark.sql.Encoders.STRING()
    return DataFrame(spark._jsparkSession.createDataset(rdd, strings).toDF(), spark)


def as_kv(df: DataFrame, col: str = "value") -> DataFrame:
    """Interpret lines as the reference's tab-separated key/value records:
    key = text before the first tab (reference worker/__main__.py:182-184 —
    `line.partition("\\t")[0]`), value = the rest."""
    key = F.substring_index(F.col(col), "\t", 1)
    value = F.when(
        F.instr(F.col(col), "\t") > 0,
        F.expr(f"substring({col}, instr({col}, '\t') + 1)"),
    ).otherwise(F.lit(""))
    return df.select(key.alias("key"), value.alias("value"))
