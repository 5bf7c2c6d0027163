"""Benchmark of record: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

Generates (or reuses) the workload's seeded inputs, computes the DuckDB
oracle digests once per (seed, size), runs the workload in a fresh
interpreter (worker.py) while sampling the process tree's resident memory,
checks every output, and prints the result as the last stdout line.
``--trace 1`` records spans and prints the per-layer metrics instead, with
the tracing overhead against warm passes run with spans off. See
README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import procs  # benchmark-local module, beside this script

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKER_TIMEOUT_S = 170  # per unit of --size

# Input sizes at --size 1, kept small enough that every run of every
# workload fits the benchmark's time budget (README.md).
SIZES = {
    "analytics": {"sf": 0.05},
    "corpus": {"docs": 1200, "vecs": 1200, "text_files": 4, "stream_files": 4},
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# -- inputs and oracle ------------------------------------------------------
def make_inputs(workload: str, seed: int, size: float) -> str:
    """Seeded inputs, cached by (workload, seed, size) outside timing."""
    import gen

    sizes = "-".join(f"{k}{v:g}" for k, v in sorted(SIZES[workload].items()))
    out = os.path.join(WORK, "inputs", f"{workload}-s{seed}-x{size:g}-{sizes}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    s = {k: v * size if k in ("docs", "vecs", "sf") else v
         for k, v in SIZES[workload].items()}
    if workload == "analytics":
        gen.write_star(out, s["sf"], seed)
    else:
        texts = gen.write_documents(out, int(s["docs"]), seed)
        gen.write_embeddings(out, int(s["vecs"]), seed)
        gen.write_text_dir(os.path.join(out, "text"), texts, s["text_files"])
        gen.write_stream(os.path.join(out, "stream"), texts, s["stream_files"], seed)
    open(os.path.join(out, "DONE"), "w").close()
    return out


# The exact top-k (similarity_topk's DuckDB twin) that ann.recall is
# measured against.
ANN_TRUTH = "ann_truth"


def oracle(workload: str, inputs: str) -> dict:
    """DuckDB digests of every checked job, cached beside the inputs."""
    path = os.path.join(inputs, "oracle.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    import duckdb

    import outputs
    import workloads

    sys.path.insert(0, ROOT)
    from mapreduce_simulation_spark.plans.registry import oracle_sql

    sqls = oracle_sql()
    jobs = {j: sqls.get(j) for j in workloads.WORKLOADS[workload].jobs}
    if workload == "corpus":
        jobs.update(workloads.MR_ORACLES)
        jobs[ANN_TRUTH] = sqls["similarity_topk"]
    con = duckdb.connect()
    for f in os.listdir(inputs):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(inputs, f)}'"
            )
    out = {}
    for job, sql in jobs.items():
        if sql is None:
            continue
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        if job == ANN_TRUTH:
            q, n = cols.index("query_id"), cols.index("neighbor_id")
            out[job] = sorted({(r[q], r[n]) for r in rows})
        else:
            out[job] = outputs.digest(rows, cols)
    con.close()
    with open(path, "w") as fh:
        json.dump(out, fh)
    return out


# -- process tree -----------------------------------------------------------
class RssSampler(threading.Thread):
    """Peak summed RSS of every process in the worker's session: the
    driver interpreter, the JVM, Python workers and pipe children."""

    def __init__(self, sid: int, period: float = 0.25):
        super().__init__(daemon=True)
        self.sid, self.period = sid, period
        self.peak = 0
        self._stop_ev = threading.Event()

    def run(self) -> None:
        while not self._stop_ev.is_set():
            rss = sum(procs.rss_bytes(p) for p in procs.session_pids(self.sid))
            self.peak = max(self.peak, rss)
            self._stop_ev.wait(self.period)

    def stop(self) -> None:
        self._stop_ev.set()
        self.join()


def run_worker(workload: str, inputs: str, trace: int, size: float) -> dict:
    scratch = os.path.join(WORK, "run")
    shutil.rmtree(scratch, ignore_errors=True)
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    result_path = os.path.join(scratch, "result.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_PYTHON": sys.executable,
        # keep the JVM's temp files inside the run's scratch directory too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PERFBENCH_T0": repr(time.time()),
    })
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--inputs", inputs, "--scratch", scratch,
        "--trace", str(trace), "--out", result_path,
    ]
    log_path = os.path.join(WORK, f"worker-{workload}.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=logf, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S * max(1.0, size))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.stop()
            _reap(proc)
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            log(fh.read()[-4000:])
        raise RuntimeError(f"worker exited with {code}")
    with open(result_path) as fh:
        res = json.load(fh)
    res["peak_rss_bytes"] = sampler.peak
    shutil.rmtree(scratch, ignore_errors=True)
    # the last run's per-job breakdown, for reading beside the summary
    with open(os.path.join(WORK, f"last-{workload}-trace{trace}.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    return res


def _reap(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started, and wait for all of it.
    The scratch directory is wiped afterwards, so the JVM's own shutdown
    (about 1.5 s of clean-up) is skipped."""
    while True:
        pids = procs.session_pids(proc.pid)
        if proc.poll() is None and proc.pid not in pids:
            pids.append(proc.pid)
        if not pids:
            break
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc.poll()
        time.sleep(0.05)
    proc.wait()


# -- metrics ----------------------------------------------------------------
# (name, unit, better) of the per-layer metrics a --trace 1 run prints. A
# layer that a workload does not touch reads 0.
PER_LAYER = [
    ("cold_s", "s", "lower"),
    ("warm_s", "s", "lower"),
    ("rows_per_s", "1/s", "higher"),
    ("session.build_s", "s", "lower"),
    ("tables.load_calls", "count", "lower"),
    ("tables.load_s", "s", "lower"),
    ("plans.build_cold_s", "s", "lower"),
    ("plans.build_warm_s", "s", "lower"),
    ("planmemo.hit_ratio", "ratio", "higher"),
    ("staging.build_s", "s", "lower"),
    ("staging.bytes", "B", "lower"),
    ("staging.read_calls", "count", "lower"),
    ("pipe.lines_in", "count", "higher"),
    ("pipe.lines_out", "count", "higher"),
    ("pipe.mb_per_s", "MB/s", "higher"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.task_wait_s", "s", "lower"),
    ("spark.cpu_util", "ratio", "higher"),
    ("shuffle.write_bytes", "B", "lower"),
    ("shuffle.read_bytes", "B", "lower"),
    ("spill.disk_bytes", "B", "lower"),
    ("python.bytes_sent", "B", "lower"),
    ("python.bytes_returned", "B", "lower"),
    ("streaming.batches", "count", "higher"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.overhead_s", "s", "lower"),
    ("streaming.index_bytes", "B", "lower"),
    ("streaming.batch_p50_s", "s", "lower"),
    ("streaming.batch_p90_s", "s", "lower"),
    ("ann.recall", "ratio", "higher"),
    ("space_amp", "ratio", "lower"),
    ("proc.peak_rss_mb", "MB", "lower"),
    ("failed_ratio", "ratio", "lower"),
    ("trace.overhead_pct", "%", "lower"),
]


def per_layer_metrics() -> list[tuple[str, str, str]]:
    import workloads

    jobs = [j for w in workloads.WORKLOADS.values() for j in w.jobs]
    return PER_LAYER + [(f"job.{j}.exec_s", "s", "lower") for j in jobs]


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def end_to_end(res: dict) -> dict[str, tuple[float, str]]:
    return {
        "setup_s": (res["setup_s"], "s"),
        "cold_cpu_s": (res["cold_cpu_s"], "s"),
        "warm_cpu_s": (res["warm_cpu_s"], "s"),
    }


def per_layer(
    res: dict, expected: dict, failed: int, attempted: int
) -> dict[str, tuple[float, str]]:
    units = res["batch_times"]
    values = dict(res["layers"])
    truth = {tuple(p) for p in expected.get(ANN_TRUTH, [])}
    if truth:
        got = {tuple(p) for p in res["extra"].get("ann_pairs", [])}
        values["ann.recall"] = len(truth & got) / len(truth)
    values.update({
        "cold_s": res["cold_s"],
        "warm_s": res["warm_s"],
        "rows_per_s": res["input_rows"] / res["warm_s"],
        "session.build_s": res["session_build_s"],
        "streaming.batch_p50_s": statistics.median(units) if units else 0.0,
        "streaming.batch_p90_s": _p90(units),
        "proc.peak_rss_mb": res["peak_rss_bytes"] / 2**20,
        "failed_ratio": failed / attempted,
    })
    return {name: (values.get(name, 0.0), unit)
            for name, unit, _ in per_layer_metrics()}


def check(res: dict, expected: dict[str, dict]) -> list[str]:
    """Names of the checked outputs that are missing or wrong."""
    bad = []
    for job, got in res["outputs"].items():
        if "digest" in got:
            ok = got["digest"] == expected.get(job)
        else:
            ok = got["ok"]
        if not ok:
            bad.append(job)
            log(f"output check failed: {job}: {got} expected {expected.get(job)}")
    jobs = set(res["cold_times"]) | set(res["outputs"])
    bad += sorted(j for j in jobs if j not in res["outputs"])
    return bad


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted; a run does a fixed amount of work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=float, default=1.0,
                    help="input size multiplier (1 = benchmark of record)")
    args = ap.parse_args(argv)
    # On SIGTERM, unwind through run_worker's clean-up, which stops the
    # worker's whole process tree and waits for it.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("mapreduce_simulation_spark", "__spark_entry__.py",
                 os.path.join("tools", "verify_local.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"perfbench: {need} not found under {ROOT}; "
                "run from a checkout of the engine")
            return 2
    sys.path.insert(0, HERE)

    inputs = make_inputs(args.workload, args.seed, args.size)
    expected = oracle(args.workload, inputs)
    res = run_worker(args.workload, inputs, args.trace, args.size)
    for e in res["errors"]:
        log(f"job error: {e}")
    bad = check(res, expected)
    failed = len(res["errors"]) + len(bad)
    attempted = res["attempted"] + len(res["outputs"])
    if args.trace:
        metrics = per_layer(res, expected, failed, attempted)
    else:
        metrics = end_to_end(res)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
