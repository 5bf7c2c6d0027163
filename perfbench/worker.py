"""One measured run of one workload, in a fresh interpreter.

Started by run.py with the repo root on PYTHONPATH. Builds the session
(timed from interpreter start, ``PERFBENCH_T0``), runs one cold pass and a
fixed number of warm passes over the workload's jobs, collects the cold
pass's outputs for the checks, and writes a JSON result file. With
``--trace 1`` it also records spans and the per-layer numbers (see
spans.py).

    python3 perfbench/worker.py --workload analytics --inputs DIR \
        --scratch DIR --trace 0 --out result.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = float(os.environ.get("PERFBENCH_T0", time.time()))
# Traced runs make this many pairs of warm passes, one pass of each pair
# with spans off (see main).
TRACED_PAIRS = 2

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procs  # noqa: E402  (benchmark-local modules)
import workloads  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    import __spark_entry__  # noqa: F401  (imports every plan module)
    from mapreduce_simulation_spark.session import build_session

    tracer = None
    extra_conf = {}
    if args.trace:
        import spans

        tracer = spans.Tracer(
            os.path.join(args.scratch, "eventlog"),
            os.path.join(os.path.dirname(args.scratch), f"last-{args.workload}-spans.json"),
        )
        extra_conf = tracer.spark_conf()
    t_build = time.time()
    spark = build_session("perfbench", extra_conf=extra_conf)
    build_s = time.time() - t_build
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up: one small shuffle job, so codegen and task launch are set up
    spark.range(200_000).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    setup_s = time.time() - T_START
    if tracer:
        tracer.install(spark)

    wl = workloads.WORKLOADS[args.workload](spark, args.inputs, args.scratch, tracer)
    times: dict[str, list[float]] = {}  # job -> warm times
    cold_times: dict[str, float] = {}
    errors: list[str] = []
    warm_cpu: list[float] = []
    sid = os.getsid(0)
    host0 = procs.host_cpu_ticks()
    c0 = procs.session_cpu_s(sid)
    wl.run_pass(0, cold_times, errors)
    cold_cpu = procs.session_cpu_s(sid) - c0
    n_pass = 1

    def warm_pass() -> float:
        nonlocal n_pass
        per_pass: dict[str, float] = {}
        c0 = procs.session_cpu_s(sid)
        wl.run_pass(n_pass, per_pass, errors)
        cpu = procs.session_cpu_s(sid) - c0
        if not tracer or tracer.enabled:
            warm_cpu.append(cpu)
            for job, t in per_pass.items():
                times.setdefault(job, []).append(t)
        n_pass += 1
        return sum(per_pass.values())

    # The session keeps getting faster for several passes (JIT), so every
    # run makes the same number of warm passes.
    pass_s: dict[bool, list[float]] = {True: [], False: []}
    if tracer:
        # Warm passes in pairs, one with spans off, alternating which runs
        # first so the session's warming does not favour either side.
        for k in range(TRACED_PAIRS):
            for on in ((False, True), (True, False))[k % 2]:
                tracer.enabled = on
                pass_s[on].append(warm_pass())
    else:
        for _ in range(wl.warm_passes):
            warm_pass()
    steal = procs.steal_share(host0, procs.host_cpu_ticks())

    checks = wl.check()
    result = {
        "setup_s": setup_s,
        "session_build_s": build_s,
        "cold_s": sum(cold_times.values()),
        # per warm pass: the passes' total over their count
        "warm_s": sum(sum(v) for v in times.values()) / len(warm_cpu),
        "cold_cpu_s": cold_cpu,
        "warm_cpu_s": sum(warm_cpu) / len(warm_cpu),
        "warm_cpu_passes": warm_cpu,
        # the host's CPU steal share over the cold and warm passes
        "steal": steal,
        "cold_times": cold_times,
        "warm_times": times,
        "batch_times": wl.batch_times(),
        "input_rows": wl.input_rows,
        "input_bytes": wl.input_bytes,
        "attempted": wl.attempted,
        "errors": errors,
        "outputs": checks,
        "extra": wl.extra(),
    }
    if tracer:
        result["layers"] = tracer.layers(wl, times)
        result["layers"]["trace.overhead_pct"] = 100.0 * (
            sum(pass_s[True]) / sum(pass_s[False]) - 1.0
        )
        spark.stop()  # flushes the event log
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
        result["layers"].update(tracer.eventlog_layers(cores))
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    # Untraced runs skip the orderly session shutdown: run.py stops the
    # JVM and every other process of the run once this one has exited.
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    os._exit(code)
