"""Star-schema table loaders for the TESTDATA.md parquet tables.

The reference's data model is "a directory of text files" (reference
manager/__main__.py:320-327); ours is schema-on-read parquet with the full
Spark type system (SURVEY.md §1). Columnar scans give column pruning +
predicate pushdown for free — verify with ``df.explain()``: look for
``PushedFilters`` and a narrow ``ReadSchema``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .staging import cached_read

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table. Parquet scan → Catalyst prunes/pushes.
    Served through the per-session read cache (``staging.cached_read``),
    which records the table as a source of any plan or artifact being
    built.

    ``events.ts`` has shipped as both TIMESTAMP(NANOS) (which Spark reads as
    nano-longs under ``nanosAsLong``) and plain ``timestamp[us]``; we detect
    which from the loaded dtype and convert only the legacy nanos case,
    truncating to microseconds exactly as DuckDB coerces ns→µs so oracle
    comparisons stay exact. Integer division (``div``), not float: ~1.7e18 ns
    overflows a double's 53-bit mantissa. Loading ``events`` pins the
    session confs this relies on (``nanosAsLong``, UTC session zone) at load
    time: a plan served from the plan memo is not loaded again, so its pins
    are the ones its build made.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = table_path(sf_dir, name)
    if name == "events":
        # The events session confs are an engine contract, re-pinned on
        # every load, cached or not (a caller may have changed the session
        # zone between queries). The ntz→ltz normalization below is
        # value-preserving only when the session renders timestamps in
        # UTC; pin it in case the caller's session was built without our
        # session.py. Deliberate session-wide side effect: UTC sessions
        # are an engine contract (session.py pins it; every oracle is
        # tz-naive) — a caller wanting non-UTC rendering must convert at
        # the edge, not via the session zone.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return cached_read(spark, path, lambda: _read(spark, path, name))


def _read(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Downstream operators (unix_micros, watermarks) expect TIMESTAMP;
            # session tz is UTC so the cast is value-preserving vs the oracle.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table as a dict; also registers each as a temp view so
    queries can be expressed in SQL (``spark.sql``) as well as DataFrames."""
    tables = {}
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        tables[name] = df
    return tables
