"""Tracing for the per-layer run (``--trace 1``).

Spans are recorded only from the benchmark's own files, around the calls
into each layer: one span per job of each pass (each sets the Spark job
group ``<cold|warm>:<pass>:<job>``), and child spans around
``tables.load_table`` and ``staging.read_staged``. Plans import those two
by name, so the wrappers are rebound in every engine module that holds
them. Task, shuffle, spill and Python-worker numbers come from the Spark
event log, for the jobs started inside a traced warm pass; streaming
numbers from a StreamingQueryListener. Spans stay in memory and are
written out when the run ends.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import statistics
import sys
import time


def _epoch(iso: str) -> float:
    """A progress timestamp such as ``2024-01-01T00:00:00.123Z``."""
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Tracer:
    def __init__(self, eventlog_dir: str, spans_path: str):
        os.makedirs(eventlog_dir, exist_ok=True)
        self.eventlog_dir = eventlog_dir
        self.spans_path = spans_path
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counts: dict[str, float] = {}
        self.plan_cold: dict[str, float] = {}
        self.plan_warm: list[float] = []
        self.memo_hits = 0
        self._last_df: dict = {}
        self.progress: list[dict] = []
        self.staging_build_s = 0.0
        self.enabled = True

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(self.eventlog_dir),
            "spark.eventLog.compress": "false",
        }

    # -- spans ------------------------------------------------------------
    def _open(self, name: str) -> int:
        self.spans.append({
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        })
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()
        self._stack.remove(sid)

    def begin(self, group: str) -> None:
        if self.enabled:
            self.spark.sparkContext.setJobGroup(group, group)
            self._open(group)

    def end(self, group: str) -> None:
        if self.enabled:
            self._close(self._stack[-1])
            self.spark.sparkContext.setJobGroup("", "")

    def _count(self, key: str, value: float = 1.0) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + value

    def _wrap(self, layer: str, fn):
        tracer = self

        def wrapped(*a, **kw):
            if not tracer.enabled:
                return fn(*a, **kw)
            sid = tracer._open(layer)
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                tracer._count(f"{layer}.calls")
                tracer._count(f"{layer}.s", time.perf_counter() - t)
                tracer._close(sid)

        wrapped.__wrapped__ = fn
        return wrapped

    def install(self, spark) -> None:
        """Rebind the layer entry points and register the listener."""
        from pyspark.sql.streaming import StreamingQueryListener

        from mapreduce_simulation_spark import staging, tables

        self.spark = spark
        for attr, orig, layer in (
            ("load_table", tables.load_table, "tables.load"),
            ("read_staged", staging.read_staged, "staging.read"),
        ):
            wrapped = self._wrap(layer, orig)
            for name, mod in list(sys.modules.items()):
                if name.startswith("mapreduce_simulation_spark") and getattr(
                    mod, attr, None
                ) is orig:
                    setattr(mod, attr, wrapped)

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append({
                    "start": _epoch(p.timestamp),
                    "rows": p.numInputRows,
                    "duration": dict(p.durationMs),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def plan_built(
        self, job: str, cold: bool, secs: float, df, new_staging_dirs: int
    ) -> None:
        """Record one plan build; staged artifacts are written inside the
        build of the job that first creates their keyed staging dir."""
        if not self.enabled:
            return
        if cold:
            self.plan_cold[job] = secs
            if new_staging_dirs:
                self.staging_build_s += secs
        else:
            self.plan_warm.append(secs)
            self.memo_hits += df is self._last_df.get(job)
        self._last_df[job] = df

    # -- results ----------------------------------------------------------
    def _windows(self) -> list[tuple[float, float]]:
        """(start, end) of every job span of a traced warm pass."""
        return [
            (sp["start"], sp["end"])
            for sp in self.spans
            if sp["name"].startswith("warm:") and sp["end"] is not None
        ]

    def layers(self, wl, warm_times: dict[str, list[float]]) -> dict[str, float]:
        extra = wl.extra()
        n_warm = max((len(v) for v in warm_times.values()), default=0)
        c = self.counts
        out = {
            "tables.load_calls": c.get("tables.load.calls", 0.0),
            "tables.load_s": c.get("tables.load.s", 0.0),
            "plans.build_cold_s": sum(self.plan_cold.values()),
            "plans.build_warm_s": sum(self.plan_warm) / max(1, n_warm),
            "planmemo.hit_ratio": self.memo_hits / max(1, len(self.plan_warm)),
            "staging.build_s": self.staging_build_s,
            "staging.bytes": float(extra.get("staging_bytes", 0)),
            "staging.read_calls": c.get("staging.read.calls", 0.0),
            "pipe.lines_in": float(extra.get("pipe_lines_in", 0)),
            "pipe.lines_out": float(extra.get("pipe_lines_out", 0)),
            "pipe.mb_per_s": 0.0,
            "space_amp": extra.get("space_bytes", 0) / max(1, wl.input_bytes),
        }
        pipe_s = [
            statistics.median(warm_times[j])
            for j in ("submit_word_count", "submit_grep")
            if warm_times.get(j)
        ]
        if pipe_s:
            out["pipe.mb_per_s"] = (
                len(pipe_s) * extra["text_bytes"] / 1e6 / sum(pipe_s)
            )
        for job, v in warm_times.items():
            out[f"job.{job}.exec_s"] = statistics.median(v)
        windows = self._windows()
        warm = [
            p for p in self.progress
            if p["rows"] and any(a <= p["start"] <= b for a, b in windows)
        ]
        per_pass = max(1, n_warm)
        out.update({
            "streaming.batches": len(warm) / per_pass,
            "streaming.add_batch_s": sum(
                p["duration"].get("addBatch", 0) for p in warm
            ) / 1000.0 / per_pass,
            "streaming.overhead_s": sum(
                p["duration"].get("triggerExecution", 0)
                - p["duration"].get("addBatch", 0)
                for p in warm
            ) / 1000.0 / per_pass,
            "streaming.index_bytes": float(extra.get("index_bytes", 0)),
        })
        self.n_warm = n_warm
        with open(self.spans_path, "w") as fh:
            json.dump(self.spans, fh)
        return out

    def eventlog_layers(self, cores: int) -> dict[str, float]:
        """Per-warm-pass task, shuffle, spill and Python-worker totals from
        the event log, counting only jobs started inside a traced warm
        pass."""
        # Jobs are attributed to a traced warm pass by submission time,
        # since a streaming query runs its micro-batches under its own job
        # group.
        windows = [(a * 1e3, b * 1e3) for a, b in self._windows()]
        measured_stages: set[int] = set()
        tot = {
            "spark.stages": 0.0,
            "spark.tasks": 0.0,
            "spark.executor_run_s": 0.0,
            "spark.executor_cpu_s": 0.0,
            "spark.gc_s": 0.0,
            "spark.task_wait_s": 0.0,
            "shuffle.write_bytes": 0.0,
            "shuffle.read_bytes": 0.0,
            "spill.disk_bytes": 0.0,
            "python.bytes_sent": 0.0,
            "python.bytes_returned": 0.0,
        }
        submitted: dict[int, float] = {}
        # Spark writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
        paths = sorted(
            glob.glob(os.path.join(self.eventlog_dir, "*", "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        for path in paths:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        t = ev.get("Submission Time", 0)
                        if any(a <= t <= b for a, b in windows):
                            measured_stages.update(ev.get("Stage IDs", []))
                    elif kind == "SparkListenerStageSubmitted":
                        info = ev["Stage Info"]
                        submitted[info["Stage ID"]] = info.get("Submission Time", 0)
                    elif kind == "SparkListenerStageCompleted":
                        sid = ev["Stage Info"]["Stage ID"]
                        if sid in measured_stages:
                            tot["spark.stages"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        sid = ev["Stage ID"]
                        if sid not in measured_stages:
                            continue
                        info = ev["Task Info"]
                        m = ev.get("Task Metrics") or {}
                        tot["spark.tasks"] += 1
                        tot["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                        tot["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                        tot["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                        if sid in submitted:
                            tot["spark.task_wait_s"] += max(
                                0, info["Launch Time"] - submitted[sid]
                            ) / 1e3
                        sr = m.get("Shuffle Read Metrics") or {}
                        tot["shuffle.read_bytes"] += sr.get(
                            "Remote Bytes Read", 0
                        ) + sr.get("Local Bytes Read", 0)
                        sw = m.get("Shuffle Write Metrics") or {}
                        tot["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                        tot["spill.disk_bytes"] += m.get("Disk Bytes Spilled", 0)
                        for acc in info.get("Accumulables", []):
                            name = acc.get("Name", "")
                            if name == "data sent to Python workers":
                                tot["python.bytes_sent"] += float(acc.get("Update", 0))
                            elif name == "data returned from Python workers":
                                tot["python.bytes_returned"] += float(acc.get("Update", 0))
        n = max(1, getattr(self, "n_warm", 1))
        out = {k: v / n for k, v in tot.items()}
        wall_ms = sum(b - a for a, b in windows) / n
        out["spark.cpu_util"] = out["spark.executor_cpu_s"] * 1e3 / (wall_ms * cores)
        return out
