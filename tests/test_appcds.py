"""The driver JVM's class-data archive (session._archive_flag).

``build_session`` dumps a dynamic AppCDS archive once per JDK and Spark jar
set under ``$XDG_CACHE_HOME/spark-graft`` and starts every later driver JVM
from it. Each case runs in a subprocess, like test_fault_tolerance.py, since
a driver JVM is process-global, with ``XDG_CACHE_HOME`` pointed at a tmp dir.

An archive only maps under the classpath it was dumped with, and that
classpath starts with the cache's own empty conf dir. So the cases that need
a good archive share the one cache the ``dumped`` fixture fills with a real
dump, swapping files in and out of it; only the truncated-archive case pays
for a second dump.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import subprocess
import sys
import threading
import time

import pytest

from mapreduce_simulation_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
from mapreduce_simulation_spark import session
if sys.argv[3] == "fail":
    session._DUMP_PASS = "raise SystemExit(3)"
spark = session.build_session("appcds", master="local[1]", shuffle_partitions=1,
                              extra_conf=json.loads(sys.argv[2]))
jvm = spark._jvm
with open("/proc/%d/maps" % jvm.ProcessHandle.current().pid()) as fh:
    mapped = sorted({l.split()[-1] for l in fh if l.rstrip().endswith(".jsa")})
print("RESULT " + json.dumps({
    "count": spark.range(10).count(),
    "opts": spark.conf.get("spark.driver.extraJavaOptions", None),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "probe_conf": spark.conf.get("spark.graft.probe", None),
    "probe_prop": jvm.System.getProperty("graft.probe"),
    "mapped": mapped,
}))
spark.stop()
"""


def _archive(xdg: str) -> str:
    from pyspark.find_spark_home import _find_spark_home

    key = session._archive_key(_find_spark_home())
    return os.path.join(xdg, "spark-graft", f"driver-{key}.jsa")


def _templates_only(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "spark-defaults.conf.template"), "w") as fh:
        fh.write("spark.graft.probe 1\n")
    return path


def _run(xdg: str, conf_dir: str, extra_conf: dict | None = None, mode: str = "") -> dict:
    env = dict(os.environ, XDG_CACHE_HOME=xdg, SPARK_CONF_DIR=conf_dir)
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO, json.dumps(extra_conf or {}), mode],
        env=env, capture_output=True, text=True, timeout=900,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stdout[-2000:] + proc.stderr[-3000:]
    return json.loads(lines[-1][len("RESULT "):])


def _opts(res: dict) -> list[str]:
    """The driver's JVM options (Spark may add its own module options)."""
    return (res["opts"] or "").split()


def _no_archive_flag(res: dict) -> bool:
    return not [o for o in _opts(res) if "SharedArchiveFile" in o]


def _assert_valid_and_mapped(archive: str, res: dict) -> None:
    assert session._committed(archive)
    assert f"-XX:SharedArchiveFile={archive}" in _opts(res)
    assert archive in res["mapped"]


def _dump_log_mtime(archive: str) -> float:
    return os.path.getmtime(os.path.join(os.path.dirname(archive), "dump.log"))


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A first build_session with no archive: it dumps one, then its own
    driver JVM (a second process) maps it. Yields the cache's XDG dir and
    templates-only conf dir, the archive, and that first run's result."""
    base = tmp_path_factory.mktemp("appcds")
    xdg, conf = str(base / "xdg"), _templates_only(str(base / "conf"))
    res = _run(xdg, conf)
    return xdg, conf, _archive(xdg), res


@contextlib.contextmanager
def _swapped(archive: str, write=None):
    """Move the committed archive aside, let ``write(path, original)`` put
    something else in its place (recorded at the original's size unless it
    records its own), and put the original back afterwards."""
    keep = os.path.join(os.path.dirname(os.path.dirname(archive)), "keep.jsa")
    with open(archive + ".size") as fh:
        size = fh.read()
    os.replace(archive, keep)
    os.remove(archive + ".size")
    try:
        if write:
            write(archive, keep)
            if not os.path.exists(archive + ".size"):
                with open(archive + ".size", "w") as fh:
                    fh.write(size)
        yield
    finally:
        os.replace(keep, archive)
        with open(archive + ".size", "w") as fh:
            fh.write(size)


def _truncated(dst, src):
    with open(src, "rb") as fh, open(dst, "wb") as out:
        out.write(fh.read(4096))


def _corrupt_same_size(dst, src):
    with open(dst, "wb") as out:
        out.write(os.urandom(1 << 20))
        out.truncate(os.path.getsize(src))


def _other_classpath(dst, src):
    """A whole dynamic archive, but dumped under a classpath of one jar."""
    from pyspark.find_spark_home import _find_spark_home

    jars = os.path.join(_find_spark_home(), "jars")
    launcher = next(os.path.join(jars, n) for n in os.listdir(jars) if n.startswith("spark-launcher"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    subprocess.run(
        [java, f"-XX:ArchiveClassesAtExit={dst}", "-cp", launcher, "org.apache.spark.launcher.Main"],
        capture_output=True, timeout=120,
    )
    with open(dst + ".size", "w") as fh:
        fh.write(str(os.path.getsize(dst)))


@pytest.mark.parametrize(
    "write", [None, _truncated, _corrupt_same_size, _other_classpath],
    ids=["missing", "truncated", "corrupt_same_size", "other_classpath"],
)
def test_session_starts_whatever_archive_is_on_disk(write, dumped):
    xdg, conf, archive, first = dumped
    if write is None:
        # the fixture's run is this case
        assert first["count"] == 10
        _assert_valid_and_mapped(archive, first)
        return
    with _swapped(archive, write):
        res = _run(xdg, conf)
        assert res["count"] == 10
        if write is _truncated:
            # a truncated archive crashes the JVM with SIGBUS: it is
            # replaced by a fresh dump, never handed to the JVM
            _assert_valid_and_mapped(archive, res)


def test_templates_only_conf_dir_is_swapped_for_the_engine_empty_one(dumped):
    xdg, conf, archive, _ = dumped
    res = _run(xdg, conf)
    _assert_valid_and_mapped(archive, res)
    own = os.path.join(xdg, "spark-graft", "conf")
    assert res["conf_dir"] == own and os.listdir(own) == []
    assert res["probe_conf"] is None  # templates are never read


def test_real_conf_dir_is_read_and_keeps_the_archive_out(dumped, tmp_path):
    xdg = dumped[0]
    conf = str(tmp_path / "conf")
    os.makedirs(conf)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write("spark.graft.probe 1\n")
    res = _run(xdg, conf)
    assert res["count"] == 10
    assert res["probe_conf"] == "1"
    assert res["conf_dir"] == conf
    assert _no_archive_flag(res)


def test_user_driver_java_options_follow_the_archive_flag(dumped):
    xdg, conf, archive, _ = dumped
    res = _run(xdg, conf, extra_conf={"spark.driver.extraJavaOptions": "-Dgraft.probe=1"})
    opts = _opts(res)
    assert opts.index(f"-XX:SharedArchiveFile={archive}") < opts.index("-Dgraft.probe=1")
    assert res["probe_prop"] == "1"
    _assert_valid_and_mapped(archive, res)


def test_concurrent_build_waits_for_the_dump_and_uses_it(dumped):
    """A build that finds the dump lock held waits, then maps what the
    holder committed instead of dumping again."""
    xdg, conf, archive, _ = dumped
    log_mtime = _dump_log_mtime(archive)
    out: dict = {}
    with open(os.path.join(os.path.dirname(archive), "dump.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        with _swapped(archive):  # the holder is "dumping": no archive yet
            runner = threading.Thread(target=lambda: out.update(_run(xdg, conf)))
            runner.start()
            time.sleep(5)
        # leaving _swapped commits the archive; the lock goes next
    runner.join(timeout=900)
    assert not runner.is_alive()
    _assert_valid_and_mapped(archive, out)
    assert _dump_log_mtime(archive) == log_mtime  # no second dump


def test_failed_dump_leaves_no_file_and_is_not_retried(tmp_path):
    xdg = str(tmp_path / "xdg")
    conf = _templates_only(str(tmp_path / "conf"))
    archive = _archive(xdg)
    res = _run(xdg, conf, mode="fail")
    assert res["count"] == 10 and _no_archive_flag(res)
    assert sorted(os.listdir(os.path.dirname(archive))) == sorted(
        ["conf", "dump.lock", "dump.log", os.path.basename(archive) + ".failed"]
    )
    # a later build neither dumps again (the real pass would succeed) nor maps
    log_mtime = _dump_log_mtime(archive)
    res = _run(xdg, conf)
    assert res["count"] == 10 and _no_archive_flag(res)
    assert not os.path.exists(archive)
    assert _dump_log_mtime(archive) == log_mtime
