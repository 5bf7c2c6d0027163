"""Shared fixtures: one SparkSession per test run (session startup ~4 s
from the driver JVM's AppCDS archive, plus a one-time ~30–50 s dump when the
archive is missing — amortize it; the driver JVM runs under the engine's
short-session compile policy, session.JIT_POLICY, like every session),
sf0.001 data for speed, DuckDB connection with the same views the driver
registers."""

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


@pytest.fixture()
def local_sf(tmp_path) -> str:
    """A writable copy of the SF_DIR tables, for tests that rewrite one."""
    import shutil

    local = tmp_path / "sf"
    local.mkdir()
    for t in TABLES:
        shutil.copyfile(f"{SF_DIR}/{t}.parquet", local / f"{t}.parquet")
    return str(local)


def keep_first_rows(sf: str, table: str, n: int) -> None:
    """Rewrite ``table`` in the tables dir ``sf`` with its first ``n`` rows."""
    import pyarrow.parquet as pq

    path = f"{sf}/{table}.parquet"
    pq.write_table(pq.read_table(path).slice(0, n), path)


def delta_batch_dirs(df) -> list[str]:
    """The ``batch=<id>`` dirs of the delta log that ``df`` reads, sorted
    (from its ``inputFiles()``, so no staging path is looked up)."""
    return sorted(
        {os.path.dirname(f) for f in df.inputFiles() if "/batch=" in f}
    )
