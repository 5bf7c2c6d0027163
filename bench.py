"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion through the noop sink
(`df.write.format("noop")`) — the standard Spark benchmarking sink: it
forces EVERY output column and keeps declared sorts, without shipping rows
to the driver. The count() forcing used through round 8 let Catalyst prune
all computed columns of narrow projection queries (gopher_quality_rules
measured 0.186 s under count() vs ~2.4 s actually computing its rule
columns) and eliminate pre-aggregation sorts — i.e. it under-measured
exactly the queries whose work is per-row compute. The methodology change
and its one-time side-by-side totals are recorded in PLANS.md; cross-round
per-query comparisons against r1-r8 history must account for it. A warm-up
query runs first so JVM/codegen startup isn't attributed to the first
benchmark entry.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: scan-heavy agg, multi-join, window, sessionization, text,
# plus the LLM-pipeline operators as they land.
HEADLINE = [
    "word_count",
    "pricing_summary",
    "revenue_by_nation",
    "top_orders",
    "left_outer_order_counts",
    "window_top_customers",
    "events_daily",
    "sessionize_events",
    "text_stats",
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_topk",
    "similarity_topk_pandas",
    "similarity_ivf_topk",
    "salted_supplier_revenue",
    "promo_revenue_ratio",
    # stateful_user_rollup intentionally NOT here: its wall time is fixed
    # streaming-machinery cost (stage write, checkpoint dir, state-store
    # init), not data throughput — it would dominate the total without
    # measuring anything that scales. The driver's correctness gate still
    # runs it with every registered query.
]

# Tracked since round 5 but kept OUT of "value" so headline_queries_total
# stays apples-to-apples across rounds (same 16-query set since r1): the
# heavyweight iterative / pairwise operators and the distributed
# total-order rewrites. Their timings land in "extended" /
# "extended_total".
EXTENDED = [
    "bpe_learn_merges",
    "pagerank_order_chain",
    "fuzzy_name_pairs",
    "dedup_connected_components",
    "rfm_segmentation",
    "sequence_packing",
    "semantic_dedup",
    "lm_perplexity_score",
    "training_shuffle",
    "dsir_importance",
    "substring_dedup_spans",
    "ccnet_perplexity_buckets",
    "gopher_quality_rules",
    "centroid_classify",
    "curation_pipeline_v2",
    "bpe_apply_merges",
    "dynamic_partition_pruning",
    # third wave (TPC-H shapes + retrieval): the ones with non-trivial
    # sf0.1 cost — the correlated-min double scan, the per-order-profile
    # Q21 collapse, and the BM25 token-exchange family
    "min_cost_supplier",
    "sole_blame_suppliers",
    "bm25_topk",
    "rrf_hybrid_topk",
    "cdc_chunking",
]

# Round-9 additions tracked as their OWN group so the cross-round
# headline/extended totals keep comparing identical query sets: the
# streaming ingestion dedup gate and the four exact training shapes.
TRAINING = [
    "streaming_minhash_dedup",
    "distributed_logreg_train",
    "distributed_kmeans_train",
    "decision_stump_split",
    "exact_ols_train",
]

# Round-11 additions, same own-group rule: the deterministic-HLL pair
# (rewritten in r11 from engine sketches to the cross-engine HLL — not
# comparable to any earlier timing, hence a fresh group) and the MinHash
# calibration pair. streaming_hll_sketch_ingest is intentionally NOT
# benched: like streaming_logreg_score its wall time is fixed streaming
# machinery, not throughput; the sweep + driver gate verify it.
SKETCH = [
    "events_daily_approx",
    "hll_monthly_users",
    "minhash_jaccard_estimate",
    "banding_threshold_curve",
]

# Round-12 additions, same own-group rule: the dyadic-histogram quantile
# sketch and the explicit Bloom membership audit.
# NOT benched (the r10 TPC-H-completion precedent — no new perf signal):
# pipe_syntax_revenue (its optimized plan is proven IDENTICAL to the
# nested-ANSI join/agg shape the headline already times) and
# streaming_quantile_sketch_ingest (fixed streaming machinery, the same
# rationale that excludes streaming_hll_sketch_ingest above).
SKETCH_R12 = [
    "quantile_sketch_monthly",
    "bloom_membership_audit",
]

# Round-13 additions, same own-group rule: the KMV order-statistics
# sketch (month-overlap face) and the transcendental-free drift report.
# NOT benched: streaming_kmv_sketch_ingest (fixed streaming machinery —
# the same rationale that excludes the HLL/quantile ingest twins);
# heavy_change_terms (landed after this group's membership froze, and
# its tokenize→word-exchange→top-k shape is already timed by word_count
# + the retrieval family — no new perf signal); the TWS MapState/
# ListState twins (fixed streaming machinery, the stateful_user_rollup
# precedent).
SKETCH_R13 = [
    "kmv_month_overlap",
    "feature_drift_stats",
]

# Round-14 additions, same own-group rule: the corpus-vs-corpus n-gram
# novelty scorer and the asymmetric containment dedup — both consumers of
# the staged shingle store, so their warm numbers measure the join/agg
# work and the first-touch (cold) number absorbs any shingle build this
# process (the cold_first_run discipline).
CURATION_R14 = [
    "ngram_novelty_score",
    "containment_dedup",
]

# Round-15 additions, same own-group rule: the two recall-QA audits, the
# tokenizer fertility aggregate, and the streaming containment gate (the
# online twin of containment_dedup; its drain is the measured work).
QA_R15 = [
    "containment_recall_audit",
    "tokenizer_fertility_stats",
    "ann_recall_audit",
    "streaming_containment_dedup",
]

# Round-16 additions, same own-group rule: the LSH index skew audit (its
# cold number absorbs the staged multi-table signature build; warm is the
# (tbl, bucket) occupancy census the ops tier would run on a schedule)
# and the online ANN serve twin (drain of the query stream against the
# staged index — the micro-batch floor plus 5 candidate-bounded serves).
QA_R16 = [
    "lsh_index_stats",
    "streaming_lsh_serve",
    "lsh_index_upsert_stats",
]

# Round-17 addition, same own-group rule: the re-planing actuator (its
# cold number absorbs the WIDE staged index build; warm is the two
# bucket-space-bounded censuses + the trigger broadcast).
QA_R17 = [
    "lsh_index_replane",
]

# Round-10 additions, same own-group rule: the gate→batch dedup pipeline
# and the batch/streaming shard-export manifests.
PIPELINE = [
    "gated_dedup_pipeline",
    "shard_export_manifest",
    "streaming_shard_ingest",
    "logreg_score_corpus",
    "kmeans_assign_corpus",
    "ols_residuals_corpus",
    "stump_classify_corpus",
    "entity_resolution_pipeline",
    # streaming_logreg_score intentionally NOT here: like
    # stateful_user_rollup, its wall time is fixed streaming machinery
    # (staging read, temp checkpoint, memory sink), not throughput;
    # the sweep + driver gate still verify it.
    # The five r10 TPC-H completions (Q10/Q12/Q13/Q17/Q19) are also NOT
    # here: plain join/agg shapes whose performance profile the headline
    # and extended sets already cover (revenue_by_nation, promo_ratio,
    # left_outer_order_counts, min_cost_supplier, ...); adding them
    # would grow bench wall time without new signal.
]


# Cross-process groups are benched in SEPARATE PROCESSES, median across
# BENCH_XPROC_N (default 3) fresh interpreters. Two escalations of the
# same defense:
#   r13: the staging-I/O groups (pipeline/sketch) — r12 measured 1.7×
#        swings between back-to-back runs in ONE process (staged-artifact
#        I/O and temp-dir layout dominate), so the in-process median-of-3
#        defends against per-run noise but not per-process noise.
#   r14: headline/extended/training too — the r13 driver-recorded
#        calibrated total (23.41) sat at the upper edge of a ±11% spread
#        the builder measured across three full same-commit passes
#        (18.05/19.35/22.32); round-over-round judgments are made on the
#        ONE recorded file, so the recorded number itself must be a
#        cross-process median, with the per-child totals kept for spread
#        visibility.
# Each child stages/compiles cold, then reports its WARM (second-run)
# number; the recorded value is the median of the children's warm numbers.
# Each child also reports its own spark_calib so normalized totals pair
# each child's seconds with THAT child's host speed.
XPROC_GROUPS = ("pipeline", "sketch", "headline", "extended", "training")


def _run_child_group(group: str) -> dict:
    """Child-process mode: time one group and print a single JSON line."""
    import __spark_entry__ as e
    from mapreduce_simulation_spark.session import build_session

    spark = build_session(f"bench-child-{group}")
    qs = e.queries()
    names = {
        "pipeline": PIPELINE,
        "sketch": SKETCH,
        "headline": HEADLINE,
        "extended": EXTENDED,
        "training": TRAINING,
    }[group]
    # minimal warmup: sink init + codegen + the Python worker pool (the
    # pipeline group's pandas stages must measure steady state)
    for wname, wsf in (
        ("top_orders", SF_DIR),
        ("similarity_topk_pandas", "/root/testdata/sf0.001"),
    ):
        try:
            qs[wname](spark, wsf).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:  # noqa: BLE001
            print(f"child warmup {wname} failed: {exc}", file=sys.stderr)
    # Per-child host-speed yardstick — the IDENTICAL count()-forced
    # operation the parent measures (see main), so each child's seconds
    # can be normalized by that child's own host speed.
    try:
        t0 = time.perf_counter()
        qs["pricing_summary"](spark, "/root/testdata/sf0.001").count()
        calib = round(time.perf_counter() - t0, 3)
    except Exception:  # noqa: BLE001
        calib = None
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        if name not in qs:
            continue
        try:
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            cold[name] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            errors[name] = str(exc).split("\n")[0][:200]
    print(
        json.dumps(
            {
                "timings": timings,
                "cold": cold,
                "errors": errors,
                "calib": calib,
            }
        )
    )
    spark.stop()
    return timings


def _xproc_group(
    group: str, n_procs: int
) -> tuple[dict, dict, dict, list, list]:
    """Run `group` in n_procs fresh interpreters; per-query median of the
    children's warm numbers. Returns (timings, cold_first_child, errors,
    per_child_totals, per_child_calibs)."""
    import subprocess

    runs: list[dict] = []
    colds: list[dict] = []
    calibs: list[float | None] = []
    errors: dict[str, str] = {}
    for i in range(n_procs):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child-group", group],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        parsed = None
        for line in reversed(proc.stdout.strip().splitlines()):
            try:
                parsed = json.loads(line)
                break
            except json.JSONDecodeError:
                continue
        if parsed is None or proc.returncode != 0 and not parsed.get("timings"):
            errors[f"_xproc_{group}_{i}"] = (
                f"child rc={proc.returncode}: {proc.stderr.strip()[-200:]}"
            )
            continue
        runs.append(parsed.get("timings", {}))
        colds.append(parsed.get("cold", {}))
        # ALWAYS append (possibly None) so calibs stays index-aligned with
        # runs/totals — a child whose calib measurement failed must not
        # shift later children onto the wrong calib in _norm_median.
        calibs.append(parsed.get("calib"))
        errors.update(parsed.get("errors", {}))
    names = sorted({n for r in runs for n in r})
    med = {}
    for n in names:
        samples = sorted(r[n] for r in runs if n in r)
        if samples:
            med[n] = samples[len(samples) // 2]
    totals = [round(sum(r.values()), 3) for r in runs]
    return med, (colds[0] if colds else {}), errors, totals, calibs


def _cpu_calibration() -> float:
    """Fixed single-thread Python loop — a host-speed yardstick recorded
    with every run. Bench totals move with the (virtualized, shared) host:
    the same commit measured 10.8 s and 18.8 s total within one hour on one
    round-5 host. Cross-round comparisons should be read relative to this
    number (and spark_calib_sec for JVM-side speed), not as absolutes."""
    t0 = time.perf_counter()
    s = 0
    for i in range(10_000_000):
        s += i
    return round(time.perf_counter() - t0, 3)


_SUMMARY_KEYS = (
    "metric",
    "value",
    "unit",
    "queries",
    "sf",
    "n_ok",
    "n_expected",
    "extended_total",
    "training_total",
    "pipeline_total",
    "sketch_total",
    "sketch_r12_total",
    "sketch_r13_total",
    "curation_r14_total",
    "qa_r15_total",
    "qa_r16_total",
    "qa_r17_total",
    "cpu_calib_sec",
    "spark_calib_sec",
    "spark_calib_med5_sec",
    "calib_normalized_total",
    "calib_normalized_total_med5",
    "value_inproc",
    "calib_normalized_total_inproc",
    "calib_normalized_extended",
    "calib_normalized_total_xproc",
    "calib_normalized_extended_xproc",
    "value_spread_pct",
    "extended_spread_pct",
    "primary_comparison_metric",
    "per_query_stat",
    "staging_group_stat",
)


def summarize(result: dict) -> dict:
    """Compact tail-safe summary of a full bench result.

    The driver machine-parses only the LAST ~2000 chars of stdout; round
    9's single output line (197-entry extended + training + cold maps)
    outgrew that buffer and BENCH_r09 recorded ``"parsed": null``. The
    summary keeps the headline per-query map (fixed 16 names) plus scalar
    fields only — ~0.8 KB serialized, asserted < 1800 chars in
    tests/test_bench_contract.py.
    """
    summary = {k: result[k] for k in _SUMMARY_KEYS if k in result}
    if result.get("errors"):
        summary["n_errors"] = len(result["errors"])
    summary["detail"] = "full per-query maps on the preceding stdout line"
    return summary


def main() -> None:
    if "--child-group" in sys.argv:
        _run_child_group(sys.argv[sys.argv.index("--child-group") + 1])
        return

    import __spark_entry__ as e
    from mapreduce_simulation_spark.session import build_session

    cpu_calib = _cpu_calibration()
    spark = build_session("bench")
    qs = e.queries()
    m = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(m.group(1)) if m else None

    # Warm up: session init, whole-stage codegen, shuffle machinery, and
    # parquet footers for each table family — otherwise the first measured
    # query absorbs multi-second one-time JVM costs. A broken warm-up query
    # must not zero the whole bench (round 3: one loader regression crashed
    # warm-up and the round recorded no timings at all), so failures are
    # noted and the run continues — the failing query will show up in
    # "errors" when its measured run also fails.
    warmups = [
        ("top_orders", SF_DIR),
        ("word_count", "/root/testdata/sf0.001"),
        ("revenue_by_nation", "/root/testdata/sf0.001"),
        ("events_daily", "/root/testdata/sf0.001"),
        # Spawn the Python worker pool so Arrow-path queries measure steady
        # state, not daemon startup.
        ("similarity_topk_pandas", "/root/testdata/sf0.001"),
        # The two most stage-heavy plans: compile their codegen (identical
        # generated code at any SF) so the measured run is throughput, not
        # Janino compile time.
        ("dedup_minhash_lsh", "/root/testdata/sf0.001"),
        ("similarity_ivf_topk", "/root/testdata/sf0.001"),
    ]
    for name, sf_path in warmups:
        try:
            # Warm the same forcing path the measurement uses (noop sink
            # included), so the first measured query doesn't absorb the
            # sink's one-time init.
            qs[name](spark, sf_path).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:  # noqa: BLE001 - survive to measure the rest
            print(f"warmup {name} failed: {exc}", file=sys.stderr)

    errors: dict[str, str] = {}

    # BENCH_FORCE=count reproduces the legacy r1-r8 forcing for one-off
    # methodology comparisons; the recorded default is the noop sink.
    legacy_count = os.environ.get("BENCH_FORCE") == "count"

    def force(df) -> None:
        """Materialize the full result through the noop sink: every column
        computed, declared sorts executed, nothing serialized to the
        driver."""
        if legacy_count:
            df.count()
        else:
            df.write.format("noop").mode("overwrite").save()

    # First-touch (cold) seconds per query, in run order. Staged per-corpus
    # index artifacts (shingles, LSH bands, minhash signatures, PQ/IVF
    # codebooks, CCNet LM, bm25 postings, …) are built once per process and
    # served warm on every later run, so the reported median measures warm
    # serve only. The FIRST run of whichever query first touches an
    # artifact absorbs its build — recording it keeps staged-build cost
    # visible in the artifact and cross-round deltas honest (a query whose
    # median fell because its build moved into the staged tier shows the
    # build in its cold number instead of the cost vanishing).
    cold_runs: dict[str, float] = {}

    def run(names: list[str], repeats: int = 1) -> dict[str, float]:
        """Per-query timing; with repeats > 1 the reported number is the
        MEDIAN of `repeats` runs — host variance measured at 3× within one
        round-5 session makes single-shot ±15% moves unattributable."""
        out: dict[str, float] = {}
        for name in names:
            if name not in qs:
                continue
            samples: list[float] = []
            for _ in range(repeats):
                t0 = time.perf_counter()
                try:
                    force(qs[name](spark, SF_DIR))
                    dt = time.perf_counter() - t0
                except Exception as exc:  # noqa: BLE001 - one bad ≠ no bench
                    errors[name] = str(exc).split("\n")[0][:200]
                    samples = []
                    break
                samples.append(dt)
            if samples:
                cold_runs[name] = round(samples[0], 3)
                out[name] = round(sorted(samples)[len(samples) // 2], 3)
        return out

    # JVM-side yardstick: one fixed small query, timed after warm-up.
    # Deliberately still count()-forced: the calibration denominator must
    # stay the IDENTICAL operation across rounds for normalized totals to
    # be comparable (the r8 sink change applies to measured queries only;
    # an agg-to-4-rows query is forced identically either way).
    t0 = time.perf_counter()
    qs["pricing_summary"](spark, "/root/testdata/sf0.001").count()
    spark_calib = round(time.perf_counter() - t0, 3)
    # Robust twin (r16 verdict item 2): the single-shot calib above swung
    # the legacy primary +24% in a round that was 30% faster raw. Median
    # of 5 further repeats of the IDENTICAL operation — warm steady-state,
    # so it is a new series (dual-recorded same-commit against the legacy
    # single-shot, the same transition pattern as value_inproc in r14+).
    med5_samples: list[float] = []
    for _ in range(5):
        t0 = time.perf_counter()
        qs["pricing_summary"](spark, "/root/testdata/sf0.001").count()
        med5_samples.append(time.perf_counter() - t0)
    spark_calib_med5 = round(sorted(med5_samples)[2], 3)

    # Cross-process medians (r13 for the staging-I/O groups, widened to
    # headline/extended/training in r14 — see XPROC_GROUPS). Each group
    # runs in BENCH_XPROC_N fresh interpreters; the recorded per-query
    # number is the median of the children's warm runs, and the per-child
    # group totals + per-child calibs are recorded for spread visibility.
    # BENCH_XPROC=0 falls back to the in-process path (quick iterations).
    xproc_n = int(os.environ.get("BENCH_XPROC_N", "3"))
    xproc_meta: dict[str, list[float]] = {}
    use_xproc = os.environ.get("BENCH_XPROC", "1") != "0"
    in_process = {
        "headline": lambda: run(HEADLINE, repeats=3),
        "extended": lambda: run(EXTENDED, repeats=3),
        "training": lambda: run(TRAINING, repeats=3),
        "pipeline": lambda: run(PIPELINE, repeats=3),
        "sketch": lambda: run(SKETCH, repeats=3),
    }
    group_timings: dict[str, dict[str, float]] = {}
    for group in XPROC_GROUPS:
        if not use_xproc:
            group_timings[group] = in_process[group]()
            continue
        med, cold0, errs, totals, calibs = _xproc_group(group, xproc_n)
        errors.update(errs)
        cold_runs.update(cold0)
        xproc_meta[f"{group}_runs"] = totals
        xproc_meta[f"{group}_calib_runs"] = calibs
        # all children failed — never record an empty group
        group_timings[group] = med if med else in_process[group]()
    timings = group_timings["headline"]
    extended = group_timings["extended"]
    training = group_timings["training"]
    pipeline = group_timings["pipeline"]
    sketch = group_timings["sketch"]
    # Transition-round dual record (r15+, ADVICE r14): the primary series'
    # numerator switched methodology in r14 (in-process median-of-3 →
    # median of warm runs in fresh child interpreters, which run a cooler
    # JVM). Record the OLD numerator path too — same parent JVM as the
    # calib denominator, same repeats — so the r13→r14+ join in
    # calib_normalized_total is backed by a same-commit measured ratio
    # (calib_normalized_total_inproc / calib_normalized_total) instead of
    # an asserted continuity. Costs ~3 warm headline passes.
    inproc_headline = run(HEADLINE, repeats=3) if use_xproc else dict(timings)
    sketch_r12 = run(SKETCH_R12, repeats=3)
    sketch_r13 = run(SKETCH_R13, repeats=3)
    curation_r14 = run(CURATION_R14, repeats=3)
    qa_r15 = run(QA_R15, repeats=3)
    qa_r16 = run(QA_R16, repeats=3)
    qa_r17 = run(QA_R17, repeats=3)

    def _norm_median(group: str) -> float | None:
        """Median over children of (child group total / child calib) —
        pairs each child's seconds with THAT child's host-speed sample,
        so one slow-host child moves one sample, not the recorded ratio."""
        totals = xproc_meta.get(f"{group}_runs", [])
        calibs = xproc_meta.get(f"{group}_calib_runs", [])
        # calibs is index-aligned with totals (None where a child's calib
        # failed); drop the unpaired samples, never shift them.
        pairs = sorted(
            t / c for t, c in zip(totals, calibs) if c is not None and c
        )
        return round(pairs[len(pairs) // 2], 2) if pairs else None

    def _spread_pct(group: str) -> float | None:
        """(max-min)/median of the per-child group totals, percent."""
        totals = sorted(xproc_meta.get(f"{group}_runs", []))
        if len(totals) < 2 or not totals[len(totals) // 2]:
            return None
        med = totals[len(totals) // 2]
        return round(100.0 * (totals[-1] - totals[0]) / med, 1)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # Cross-round comparability guards: "value" sums the SAME 16-query
        # set as every previous round, and only the ones that succeeded —
        # n_ok/n_expected make partial totals self-describing (a round
        # with failures would otherwise read as a speedup). The round-5+
        # heavyweights are reported separately in "extended" so they are
        # tracked without skewing the cross-round total; compare rounds on
        # the intersection of succeeded queries.
        "n_ok": len(timings),
        "n_expected": len([n for n in HEADLINE if n in qs]),
        "extended": extended,
        "extended_total": round(sum(extended.values()), 3),
        # separate group (r9+): totals above stay set-identical to r8
        "training": training,
        "training_total": round(sum(training.values()), 3),
        # separate group (r10+): pipeline/export compositions. Since r13:
        # per-query MEDIAN ACROSS 3 FRESH PROCESSES (warm second run per
        # child); "*_runs" holds each child's group total for variance
        # visibility. NOT comparable to the r10-r12 in-process numbers.
        "pipeline": pipeline,
        "pipeline_total": round(sum(pipeline.values()), 3),
        # separate group (r11+): deterministic-sketch family (same r13
        # cross-process protocol as pipeline)
        "sketch": sketch,
        "sketch_total": round(sum(sketch.values()), 3),
        "staging_group_stat": (
            f"median_of_{xproc_n}_processes"
            if xproc_meta
            else "median_of_3_in_process"
        ),
        **xproc_meta,
        # separate group (r12+): quantile sketch + bloom audit
        "sketch_r12": sketch_r12,
        "sketch_r12_total": round(sum(sketch_r12.values()), 3),
        "sketch_r13": sketch_r13,
        "sketch_r13_total": round(sum(sketch_r13.values()), 3),
        # separate group (r14+): shingle-store curation pair
        "curation_r14": curation_r14,
        "curation_r14_total": round(sum(curation_r14.values()), 3),
        # separate group (r15+): recall-audit / tokenizer-QA pair
        "qa_r15": qa_r15,
        "qa_r15_total": round(sum(qa_r15.values()), 3),
        # separate group (r16+): the staged-LSH-index ops audit
        "qa_r16": qa_r16,
        "qa_r16_total": round(sum(qa_r16.values()), 3),
        # separate group (r17+): the index re-planing actuator
        "qa_r17": qa_r17,
        "qa_r17_total": round(sum(qa_r17.values()), 3),
        "cpu_calib_sec": cpu_calib,
        "spark_calib_sec": spark_calib,
        # median of 5 warm repeats of the identical calib op (r17+): the
        # noise-robust denominator; see the dual-record comment at the
        # measurement site.
        "spark_calib_med5_sec": spark_calib_med5,
        # LEGACY cross-round series (primary r5-r16, see README
        # "Benchmark"): headline total / the PARENT session's single-shot
        # spark_calib — kept with its exact historical definition so the
        # r5+ series stays continuous, but DEMOTED from primary in r17:
        # the single-shot denominator moved it +24% on calibration noise
        # in a round that was 30% faster raw (r16 verdict item 2).
        "calib_normalized_total": round(total / spark_calib, 2)
        if spark_calib
        else None,
        # the r17+ parent-session series on the robust denominator
        # (dual-recorded against the legacy series this commit).
        "calib_normalized_total_med5": round(total / spark_calib_med5, 2)
        if spark_calib_med5
        else None,
        # the r1-r13 methodology measured on THIS commit (see the dual-
        # record comment above): divide by calib_normalized_total for the
        # measured cross-methodology ratio.
        "value_inproc": round(sum(inproc_headline.values()), 3),
        "calib_normalized_total_inproc": round(
            sum(inproc_headline.values()) / spark_calib, 2
        )
        if spark_calib
        else None,
        "calib_normalized_extended": round(
            sum(extended.values()) / spark_calib, 2
        )
        if spark_calib
        else None,
        "calib_normalized_total_xproc": _norm_median("headline"),
        "calib_normalized_extended_xproc": _norm_median("extended"),
        # (max-min)/median of the per-child group totals — the recorded
        # noise bound round-over-round comparisons should be read against.
        "value_spread_pct": _spread_pct("headline"),
        "extended_spread_pct": _spread_pct("extended"),
        # PRIMARY since r17 (r16 verdict item 2): the fully cross-process
        # metric — median over children of (child group total / that
        # child's own calib sample) — recorded unchanged since r14, so the
        # promoted series has three rounds of history (r14 10.55, r15
        # 10.88, r16 10.95 — flat, vs the legacy series' 22.7 → 15.7 →
        # 19.5 swing on the same three rounds, which tracked the parent's
        # single-shot calib, not the code). One slow-host child moves one
        # sample, not the
        # recorded ratio; the parent single-shot series stays recorded
        # above as the legacy join. In-process mode (BENCH_XPROC=0) has no
        # per-child calibs, so it falls back to the legacy metric.
        "primary_comparison_metric": (
            "calib_normalized_total_xproc"
            if _norm_median("headline") is not None
            else "calib_normalized_total"
        ),
        "per_query_stat": (
            f"median_of_{xproc_n}_processes_warm"
            if use_xproc
            else "median_of_3"
        ),
        # First-touch seconds per query (run order): the run that absorbs
        # any staged index build this process. cold - median ≈ the staged
        # build cost attributable to that query's artifacts.
        "cold_first_run": cold_runs,
    }
    if errors:
        result["errors"] = errors
    # Tail-safety (round-10 fix): full detail object on an EARLIER stdout
    # line, then END stdout with the compact summary line — see summarize().
    print(json.dumps(result))
    print(json.dumps(summarize(result)))
    spark.stop()
    # Surface partial failure in the exit code without suppressing the
    # JSON lines above (the driver records both).
    if errors:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
