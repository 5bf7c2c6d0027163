"""Custom connectors under local-cluster mode — REAL executor JVMs with
separate Python workers, unlike local[N] where everything shares the
driver process. This is the one-box test closest to a real cluster for
the things that can silently break there:

  - the Python DataSource readers/writers must PICKLE to executors
    (partition values, reader/writer instances) — local[*] never
    serializes them across a process boundary;
  - pipe executables must launch from executor-side Python workers;
  - the kvtext two-phase commit must cope with attempts coming from
    different executor processes.

Runs in a subprocess (cluster-level master conf; the shared test session
is process-global). local-cluster needs SPARK_HOME; the pip-installed
pyspark dir serves.
"""

from __future__ import annotations

import os
import subprocess
import sys

SCRIPT = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
from mapreduce_simulation_spark.session import build_session
from mapreduce_simulation_spark.sources.kvtext import register_kvtext
from mapreduce_simulation_spark.sources.eventlog_stream import (
    register_eventlog_stream,
)
from mapreduce_simulation_spark.tables import load_table
from pyspark.sql import functions as F

repo, sf_dir, tmp = sys.argv[1], sys.argv[2], sys.argv[3]
spark = build_session(
    "local-cluster-connectors", master="local-cluster[2,2,1024]",
    shuffle_partitions=4,
)
# Ship the package to executor Python workers — the deployment step a
# real cluster needs (local[N] hides it: everything shares the driver
# process). Custom DataSources/pipes unpickle by module reference on
# executors, so the package must be importable there.
import shutil
pkg_zip = shutil.make_archive(
    os.path.join(tmp, "engine"), "zip",
    root_dir=repo, base_dir="mapreduce_simulation_spark",
)
spark.sparkContext.addPyFile(pkg_zip)
register_kvtext(spark)
register_eventlog_stream(spark)

# 1. kvtext write+read across executor JVMs (two-phase commit from
#    different processes, Arrow batches pickled back)
wc = (
    load_table(spark, sf_dir, "documents")
    .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
    .where(F.col("word") != "")
    .groupBy("word").count()
)
n_words = wc.count()
out = os.path.join(tmp, "kv")
wc.repartition(3).write.format("kvtext").mode("overwrite").save(out)
back = spark.read.format("kvtext").load(out)
assert back.count() == n_words, "kvtext roundtrip lost rows"

# 2. streaming custom source: row-group partitions read ON EXECUTORS
stage = os.path.join(tmp, "evlog")
events = load_table(spark, sf_dir, "events")
n_events = events.count()
events.repartitionByRange(4, "ts").write.mode("overwrite").parquet(stage)
stream = spark.readStream.format("eventlog_stream").load(stage)
q = (
    stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    .writeStream.format("memory").queryName("lc_rollup")
    .outputMode("complete").start()
)
q.processAllAvailable(); q.stop()
got = sum(r["n"] for r in spark.table("lc_rollup").collect())
assert got == n_events, f"stream rollup saw {got} of {n_events} events"

# 3. pipe executable launched from the executor JVMs
from mapreduce_simulation_spark.operators.pipe import pipe_map, pipe_reduce
lines = load_table(spark, sf_dir, "documents").select("text").limit(50)
mapped = pipe_map(lines, "cat")
assert mapped.count() == 50, "pipe_map across executors lost lines"

print("LOCAL_CLUSTER_CONNECTORS_OK")
spark.stop()
"""


def test_custom_connectors_survive_executor_jvms(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ)
    env.setdefault(
        "SPARK_HOME",
        os.path.dirname(os.path.abspath(__import__("pyspark").__file__)),
    )
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, repo, sf_dir, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=420,
        env=env,
    )
    assert "LOCAL_CLUSTER_CONNECTORS_OK" in proc.stdout, (
        proc.stdout[-2000:] + proc.stderr[-2000:]
    )
