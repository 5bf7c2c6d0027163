"""The workloads: which jobs a pass runs, and how each is checked.

Every job goes through the engine's public entry points only:
``queries()[name](spark, sf_dir)`` for registered jobs,
``operators.pipe.submit_job`` for the reference's executable contract and
``streaming.stateful.band_index_gate_drain`` for streaming ingestion.
"""

from __future__ import annotations

import os
import time

import outputs

# The reference's job contract: plain executables reading lines on stdin.
WC_MAPPER = (
    "awk '{ n = split(tolower($0), w, /[ \\t]+/); "
    'for (i = 1; i <= n; i++) if (w[i] != "") print w[i] "\\t1" }\''
)
WC_REDUCER = (
    "awk -F'\\t' '{ if ($1 != prev) { if (NR > 1) print prev \"\\t\" cnt; "
    "prev = $1; cnt = 0 } cnt += $2 } END { if (NR > 0) print prev \"\\t\" cnt }'"
)
GREP_TERM = "spark"
GREP_MAPPER = (
    "awk -v q=%s '{ if (index(tolower($0), q) > 0) print \"1\\t\" $0 }'" % GREP_TERM
)
GREP_REDUCER = "cut -f2-"

# Oracle queries for the submit_job part files (DuckDB over documents).
MR_ORACLES = {
    "submit_word_count": """
        SELECT word, count(*) AS cnt
        FROM (SELECT unnest(string_split_regex(lower(text), '[ \\t]+')) AS word
              FROM documents)
        WHERE word <> '' GROUP BY word""",
    "submit_grep": f"""
        SELECT text FROM documents WHERE contains(lower(text), '{GREP_TERM}')""",
}

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Workload:
    """A list of jobs run once per pass; pass 0 is the cold pass, whose
    outputs are collected for the checks."""

    jobs: tuple[str, ...] = ()
    tables: tuple[str, ...] = ()
    warm_passes = 3  # fixed, so that pass metrics compare between runs

    def __init__(self, spark, inputs: str, scratch: str, tracer=None):
        import __spark_entry__

        self.spark = spark
        self.sf_dir = inputs
        self.scratch = scratch
        self.tracer = tracer
        self.queries = __spark_entry__.queries()
        self.attempted = 0
        self.rows: dict[str, tuple[list[str], list[tuple]]] = {}
        self.input_rows, self.input_bytes = self._input_size()

    def _input_size(self) -> tuple[int, int]:
        import pyarrow.parquet as pq

        rows = size = 0
        for t in self.tables:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            rows += pq.ParquetFile(path).metadata.num_rows
            size += os.path.getsize(path)
        return rows, size

    def run_pass(self, i: int, times: dict[str, float], errors: list[str]) -> None:
        for job in self.jobs:
            self._timed(i, job, times, errors)

    def _timed(self, i: int, job: str, times: dict, errors: list) -> None:
        self.attempted += 1
        group = f"{'cold' if i == 0 else 'warm'}:{i}:{job}"
        if self.tracer:
            self.tracer.begin(group)
        t = time.perf_counter()
        try:
            self.execute(job, i == 0)
        except Exception as ex:  # a failed job is counted, the run goes on
            errors.append(f"{job} pass {i}: {type(ex).__name__}: {str(ex)[:400]}")
            return
        finally:
            if self.tracer:
                self.tracer.end(group)
        times[job] = time.perf_counter() - t

    def execute(self, job: str, cold: bool) -> None:
        """Build the registered job's plan, then run it: the cold pass
        collects the rows for the output check, warm passes run it into
        the noop sink."""
        from mapreduce_simulation_spark import staging

        n_dirs = len(staging._KEYED)
        t = time.perf_counter()
        df = self.queries[job](self.spark, self.sf_dir)
        if self.tracer:
            self.tracer.plan_built(
                job, cold, time.perf_counter() - t, df, len(staging._KEYED) - n_dirs
            )
        if cold:
            self.rows[job] = (df.columns, [tuple(r) for r in df.collect()])
        else:
            df.write.format("noop").mode("overwrite").save()

    def check(self) -> dict[str, dict]:
        return {
            job: {"digest": outputs.digest(rows, cols)}
            for job, (cols, rows) in self.rows.items()
        }

    def batch_times(self) -> list[float]:
        """Warm micro-batch latencies; only a streaming workload has any."""
        return []

    def extra(self) -> dict:
        return {}


class Analytics(Workload):
    """Star-schema scans, joins, windows and shuffles: JVM-only work."""

    jobs = (
        "pricing_summary",
        "revenue_by_nation",
        "top_orders",
        "window_top_customers",
        "left_outer_order_counts",
        "salted_supplier_revenue",
        "sessionize_events",
    )
    tables = ("customer", "supplier", "part", "orders", "lineitem", "events")

    def extra(self) -> dict:
        from mapreduce_simulation_spark import staging

        n = sum(dir_bytes(d) for d in staging._DIRS)
        return {"staging_bytes": n, "space_bytes": n}


class Corpus(Workload):
    """One seeded document corpus (with set duplicate rates) and clustered
    embeddings. The reference's contract runs executables over a text
    directory through submit_job; the curation operators run over the same
    corpus, and the cold pass builds their staged indexes; the same
    documents, split into parquet files, are drained one file per trigger
    through the streaming ingestion gate, each pass into a fresh index."""

    jobs = (
        "submit_word_count",
        "submit_grep",
        "dedup_minhash_lsh",
        "similarity_ivf_topk",
        "drain",
    )
    tables = ("documents", "embeddings")
    # a corpus pass costs about twice an analytics pass; two keep a run
    # inside the benchmark's time budget (README.md)
    warm_passes = 2
    EXECUTABLES = {
        "submit_word_count": (WC_MAPPER, WC_REDUCER),
        "submit_grep": (GREP_MAPPER, GREP_REDUCER),
    }

    def __init__(self, *a, **kw):
        import pyarrow.parquet as pq

        super().__init__(*a, **kw)
        self.text_dir = os.path.join(self.sf_dir, "text")
        self.stream_dir = os.path.join(self.sf_dir, "stream")
        self.n_files = len(os.listdir(self.stream_dir))
        self.out_root = os.path.join(self.scratch, "mr_out")
        self.lines_in = pq.ParquetFile(
            os.path.join(self.sf_dir, "documents.parquet")
        ).metadata.num_rows
        self.lines_out = 0
        self.batch_lat: dict[int, list[float]] = {}

    def _ingest_root(self, i: int) -> str:
        return os.path.join(self.scratch, "ingest", f"pass{i}")

    def run_pass(self, i: int, times: dict[str, float], errors: list[str]) -> None:
        self._pass = i
        super().run_pass(i, times, errors)

    def execute(self, job: str, cold: bool) -> None:
        if job == "drain":
            return self._drain()
        if job not in self.EXECUTABLES:
            return super().execute(job, cold)
        from mapreduce_simulation_spark.operators.pipe import submit_job

        mapper, reducer = self.EXECUTABLES[job]
        submit_job(
            self.spark,
            self.text_dir,
            os.path.join(self.out_root, job),
            mapper,
            reducer,
            num_mappers=4,
            num_reducers=4,
        )

    def _drain(self) -> None:
        from mapreduce_simulation_spark.streaming.stateful import (
            band_index_gate_drain,
        )

        stream = (
            self.spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.stream_dir)
        )
        vroot = band_index_gate_drain(stream, self._ingest_root(self._pass))
        # A batch commits by renaming its verdict dir, so the rename times
        # (ctime) mark the end of each micro-batch. The first batch also
        # carries the query's start-up, so latencies run from its commit.
        commits = sorted(
            os.stat(os.path.join(vroot, d)).st_ctime
            for d in os.listdir(vroot)
            if d.startswith("delta_")
        )
        self.batch_lat[self._pass] = [b - a for a, b in zip(commits, commits[1:])]

    def batch_times(self) -> list[float]:
        return [t for i, lat in self.batch_lat.items() if i > 0 for t in lat]

    def check(self) -> dict[str, dict]:
        out = super().check()
        self.lines_out = 0
        for job in self.EXECUTABLES:
            path = os.path.join(self.out_root, job)
            if not os.path.isdir(path):
                continue
            lines = outputs.read_part_files(path)
            self.lines_out += len(lines)
            if job == "submit_word_count":
                rows = [(w, int(c)) for w, c in (ln.split("\t") for ln in lines)]
                out[job] = {"digest": outputs.digest(rows, ["word", "cnt"])}
            else:
                out[job] = {"digest": outputs.digest([(ln,) for ln in lines], ["text"])}
        out["drain"] = self._check_verdicts(self._ingest_root(0))
        return out

    def _check_verdicts(self, root: str) -> dict:
        """Recompute the gate's verdicts sequentially from
        narrow_minhash_bands and the observed batch split: a band bucket
        is a duplicate if an earlier batch claimed it, or if a lower
        doc_id in the same batch shares it."""
        from pyspark.sql import functions as F

        from mapreduce_simulation_spark.operators.dedup import narrow_minhash_bands

        vroot = os.path.join(root, "verdicts")
        if not os.path.isdir(vroot):
            return {"ok": False, "detail": "no verdicts"}
        got = (
            self.spark.read.option("recursiveFileLookup", "true")
            .parquet(vroot)
            .select(
                "doc_id",
                "band",
                "dup",
                F.regexp_extract(F.input_file_name(), r"delta_(\d+)", 1)
                .cast("int")
                .alias("batch"),
            )
            .collect()
        )
        bands = narrow_minhash_bands(
            self.spark.read.parquet(self.stream_dir)
        ).collect()
        batch_of: dict[int, int] = {}
        for r in got:
            if batch_of.setdefault(r.doc_id, r.batch) != r.batch:
                return {"ok": False, "detail": f"doc {r.doc_id} in two batches"}
        n_batches = len(set(batch_of.values()))
        if n_batches != self.n_files:
            return {"ok": False, "detail": f"{n_batches} batches for {self.n_files} files"}
        by_batch: dict[int, list] = {}
        for r in bands:
            if r.doc_id not in batch_of:
                return {"ok": False, "detail": f"doc {r.doc_id} has no verdict"}
            by_batch.setdefault(batch_of[r.doc_id], []).append(r)
        claimed: set = set()
        expect = set()
        for b in sorted(by_batch):
            owner: dict = {}
            for r in by_batch[b]:
                k = (r.band, r.key)
                owner[k] = min(owner.get(k, r.doc_id), r.doc_id)
            for r in by_batch[b]:
                k = (r.band, r.key)
                dup = int(k in claimed or owner[k] != r.doc_id)
                expect.add((r.doc_id, r.band, dup))
            claimed.update(owner)
        actual = {(r.doc_id, r.band, r.dup) for r in got}
        if len(got) != len(actual) or actual != expect:
            return {
                "ok": False,
                "detail": f"{len(actual ^ expect)} verdicts differ of {len(expect)}",
            }
        return {"ok": True, "detail": f"{len(expect)} verdicts"}

    def extra(self) -> dict:
        from mapreduce_simulation_spark import staging

        staged = sum(dir_bytes(d) for d in staging._DIRS)
        index = os.path.join(self._ingest_root(0), "index")
        index_bytes = dir_bytes(index)
        out = {
            "staging_bytes": staged,
            "space_bytes": staged + dir_bytes(self.out_root) + index_bytes,
            "index_bytes": index_bytes,
            "pipe_lines_in": self.lines_in * len(self.EXECUTABLES),
            "pipe_lines_out": self.lines_out,
            "text_bytes": dir_bytes(self.text_dir),
        }
        ivf = self.rows.get("similarity_ivf_topk")
        if ivf:
            cols, rows = ivf
            q, n = cols.index("query_id"), cols.index("neighbor_id")
            out["ann_pairs"] = sorted({(r[q], r[n]) for r in rows})
        return out


WORKLOADS = {
    "analytics": Analytics,
    "corpus": Corpus,
}
