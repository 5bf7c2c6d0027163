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
  - the driver JVM starts from a dynamic AppCDS archive (see _archive_flag):
    most of a session's start-up is parsing and verifying classes from the
    ~290 Spark jars, and the archive holds them ready to map
  - the driver JVM compiles under a short-session policy (JIT_POLICY): a
    session lives for one job, so most of its CPU is the JIT warming up,
    not the queries. Two compiler threads instead of a count that grows
    with the cores (3 on 4), and C2 only for methods three times hotter
    than JDK 17's thresholds, spend that CPU on the code that runs long
    enough to repay it; C1 still compiles the rest at once. Executors of a
    real cluster are long-lived and keep the default tiering; in local
    mode the driver runs the tasks. Measured at 4 vCPUs only (see
    JIT_POLICY)
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile

from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries, a static conf read once per JVM.
# Spark's default of 100 is below what one session compiles: the tier-1
# suite's session compiles 4 289 distinct classes, the sf0.01 sweep of all
# 235 queries 3 219. About 2x headroom, since the cache evicts per segment.
CODEGEN_CACHE_ENTRIES = 8192

# The driver JVM's compile policy: two compiler threads (one C1, one C2)
# and the Tier4 (C2) thresholds at 3x their JDK 17 defaults. C1-only cut
# the analytics workload's cold CPU by more but made its warm passes 26 %
# slower; 10x thresholds also cost wall time beyond the run-to-run spread.
# Measured only on a 4-vCPU host, where the JDK's own count is 3; on larger
# local hosts, where it grows and the driver runs every task, the wall-time
# effect is unmeasured.
JIT_POLICY = (
    "-XX:CICompilerCount=2 -XX:Tier4InvocationThreshold=15000"
    " -XX:Tier4MinInvocationThreshold=1800 -XX:Tier4CompileThreshold=45000"
    " -XX:Tier4BackEdgeThreshold=120000"
)

# The pass whose loaded classes the archive records: a session like the
# engine's, then a parquet write and read, a shuffle join, a window and an
# aggregate on generated data. argv: repo root, scratch dir.
_DUMP_PASS = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import Window, functions as F
from mapreduce_simulation_spark.session import build_session

spark = build_session("appcds-dump")
path = os.path.join(sys.argv[2], "facts.parquet")
spark.range(20000).selectExpr("id", "id % 97 AS k", "id / 7 AS v").write.parquet(path)
facts = spark.read.parquet(path)
dims = spark.range(97).selectExpr("id AS k", "concat('n', id) AS name")
joined = facts.join(dims.hint("merge"), "k")
ranked = joined.withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("v")))
ranked.where("r <= 3").groupBy("name").agg(F.sum("v"), F.count("*")).collect()
spark.stop()
"""
_DUMP_TIMEOUT_S = 600

# Where build_session puts the archive flag and JIT_POLICY. Spark places
# it before spark.driver.extraJavaOptions, so the user's options and a
# spark-defaults.conf's keep their key and come last.
_DEFAULT_JAVA_OPTIONS = "spark.driver.defaultJavaOptions"


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
    extra_conf = dict(extra_conf or {})
    opts = _driver_default_java_options(extra_conf)
    if opts:
        extra_conf[_DEFAULT_JAVA_OPTIONS] = opts

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
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _driver_default_java_options(conf: dict[str, str]) -> str | None:
    """``spark.driver.defaultJavaOptions`` for the driver JVM about to start:
    the archive flag (if any), then JIT_POLICY, then the value Spark would
    have used (``conf``'s, else the conf dir's spark-defaults.conf), so a
    flag set there wins. Spark puts ``spark.driver.extraJavaOptions`` after
    all of it and this leaves that key alone. None when a JVM already
    exists: this process has started one, or ``PYSPARK_GATEWAY_PORT`` is
    set (under spark-submit and inside the dump), so nothing here would
    reach it."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if "PYSPARK_GATEWAY_PORT" in os.environ or SparkContext._gateway is not None:
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    theirs = conf.get(_DEFAULT_JAVA_OPTIONS, _conf_file_value(conf_dir, _DEFAULT_JAVA_OPTIONS))
    return " ".join(o for o in (_archive_flag(spark_home, conf_dir), JIT_POLICY, theirs) if o)


def _conf_file_value(conf_dir: str, key: str) -> str | None:
    """``key``'s value in ``conf_dir``/spark-defaults.conf, which Spark reads
    as a java.util.Properties file: ``#`` and ``!`` comments, a backslash
    joins the next line, the key ends at whitespace, ``=`` or ``:``, the
    last entry wins and the value is trimmed. Other Properties escapes
    (``\\uXXXX``, an escaped separator in a key) are not decoded."""
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as fh:
            text = re.sub(r"\\\r?\n[ \t\f]*", "", fh.read())
    except OSError:
        return None
    value = None
    for line in text.splitlines():
        m = re.match(r"[ \t\f]*([^\s=:#!][^\s=:]*)[ \t\f]*[=:]?(.*)", line)
        if m and m.group(1) == key:
            value = m.group(2).strip()
    return value


def _archive_flag(spark_home: str, conf_dir: str) -> str | None:
    """``-XX:SharedArchiveFile=<archive>`` for the driver JVM about to start,
    dumping the archive first if this JDK and jar set has none yet.

    None when no archive applies: the conf dir holds real files, the cache
    dir is not writable, or the dump for this key failed once.

    Side effect: a conf dir of only ``*.template`` files is swapped for an
    empty engine-owned one, because JDK 17 refuses to dump with a non-empty
    directory on the classpath; Spark reads nothing from templates, so no
    setting changes. That dir is on the classpath the archive records, so
    an archive maps only from the cache dir it was dumped in.
    """
    try:
        if not all(n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
    except OSError:
        pass  # no conf dir: nothing to read either
    # Outside TMPDIR and SPARK_LOCAL_DIRS, which perfbench wipes every run.
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "spark-graft"
    )
    archive = os.path.join(cache, f"driver-{_archive_key(spark_home)}.jsa")
    try:
        os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
        os.environ["SPARK_CONF_DIR"] = os.path.join(cache, "conf")
        if _needs_dump(archive):
            with open(os.path.join(cache, "dump.lock"), "w") as lock:
                fcntl.flock(lock, fcntl.LOCK_EX)  # a concurrent dump: wait, then reuse it
                if _needs_dump(archive):
                    _dump_archive(spark_home, cache, archive)
    except OSError:
        return None
    return f"-XX:SharedArchiveFile={archive}" if _committed(archive) else None


def _archive_key(spark_home: str) -> str:
    """Identity of the JDK and jar set an archive was dumped for, from file
    names and sizes only (no JVM is started to compute it)."""
    import pyspark

    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    java = os.path.realpath(java or "java")
    parts = [java, str(os.path.getsize(java)) if os.path.exists(java) else "", pyspark.__version__]
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)) if os.path.isdir(jars) else []:
        parts.append(f"{name}:{os.path.getsize(os.path.join(jars, name))}")
    return hashlib.sha1("\n".join(parts).encode()).hexdigest()[:16]


def _committed(archive: str) -> bool:
    """The archive is whole: its size is the one recorded at commit. A
    truncated archive crashes the JVM with SIGBUS instead of falling back."""
    try:
        with open(archive + ".size") as fh:
            return os.path.getsize(archive) == int(fh.read())
    except (OSError, ValueError):
        return False


def _needs_dump(archive: str) -> bool:
    return not _committed(archive) and not os.path.exists(archive + ".failed")


def _dump_archive(spark_home: str, cache: str, archive: str) -> None:
    """Run the dump pass under spark-submit with ``-XX:ArchiveClassesAtExit``
    and JIT_POLICY (as every session runs) and commit the archive.
    spark-submit is the JVM itself, so the archive is complete when it
    returns. Only this key's files are kept. On failure no partial file is
    left and ``<archive>.failed`` stops later retries."""
    for stale in (archive, archive + ".size"):
        if os.path.exists(stale):
            os.remove(stale)
    tmp = archive + ".tmp"
    log_path = os.path.join(cache, "dump.log")
    env = dict(os.environ, PYSPARK_DRIVER_PYTHON=sys.executable, PYSPARK_PYTHON=sys.executable)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with tempfile.TemporaryDirectory() as scratch, open(log_path, "w") as log:
        script = os.path.join(scratch, "dump_pass.py")
        with open(script, "w") as fh:
            fh.write(_DUMP_PASS)
        cmd = [
            os.path.join(spark_home, "bin", "spark-submit"),
            "--driver-memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            "--driver-java-options", f"-XX:ArchiveClassesAtExit={tmp} {JIT_POLICY}",
            script, repo, scratch,
        ]
        try:
            code = subprocess.run(
                cmd, env=env, stdout=log, stderr=subprocess.STDOUT, timeout=_DUMP_TIMEOUT_S
            ).returncode
        except (OSError, subprocess.TimeoutExpired) as exc:
            code = repr(exc)
    if code == 0 and os.path.exists(tmp) and os.path.getsize(tmp) > 0:
        with open(archive + ".size", "w") as fh:
            fh.write(str(os.path.getsize(tmp)))
        os.replace(tmp, archive)
        mine = os.path.basename(archive)
        for name in os.listdir(cache):
            if name.startswith("driver-") and not name.startswith(mine):
                os.remove(os.path.join(cache, name))
        return
    if os.path.exists(tmp):
        os.remove(tmp)
    with open(archive + ".failed", "w") as fh:
        fh.write(f"exit {code}; see {log_path}\n")
