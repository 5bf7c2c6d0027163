"""Shared fixtures: one SparkSession per test run (session startup ~4 s
from the driver JVM's AppCDS archive, plus a one-time ~30 s dump when the
archive is missing — amortize it), sf0.001 data for speed, DuckDB
connection with the same views the driver registers."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    from mapreduce_simulation_spark.session import build_session

    s = build_session("tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
