"""Physical-plan regression guards: the plan *shape* claims in PLANS.md,
asserted. A future change that silently adds an exchange, loses a filter
pushdown, or flips a broadcast to a shuffle join fails here the same way a
wrong result fails the oracle tests. Counts are upper bounds (AQE may
remove exchanges at runtime, never add them)."""

from __future__ import annotations

import re

import pytest

from mapreduce_simulation_spark.plans import registry


def _plan(spark, sf_dir, name: str) -> str:
    from mapreduce_simulation_spark.staging import forget_session

    spark.catalog.clearCache()
    # Plan memos return the SAME DataFrame object across calls; once an
    # earlier test has executed it, its QueryExecution prints the AQE
    # FINAL plan whose materialized query stages inflate naive Exchange
    # counts. Shape assertions are about the from-scratch plan — drop the
    # session's memos so the builder re-plans.
    forget_session(spark)
    df = registry.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _count(plan: str, pattern: str) -> int:
    return len(re.findall(pattern, plan))


# (query, max shuffle exchanges, min broadcasts, substring that must appear)
SHAPES = [
    # scan → partial agg → ONE exchange → final agg
    ("word_count", 1, 0, "HashAggregate"),
    # pushed ship-date filter must reach the parquet scan; budget 3 since
    # the two-level exact money agg (r8): partial-merge exchange carries
    # |groups| × |map partitions| rows, final agg + sort the rest
    ("pricing_summary", 3, 0, "PushedFilters: [IsNotNull(l_shipdate)"),
    # all four dims broadcast at this SF — no shuffle join anywhere;
    # budget 3 for the same two-level money-agg partial-merge exchange
    ("revenue_by_nation", 3, 4, "BroadcastHashJoin"),
    # top-k must be TakeOrderedAndProject, not a global sort
    ("top_orders", 0, 0, "TakeOrderedAndProject"),
    # per-group top-k: one exchange, and WindowGroupLimit must prefilter
    # each map partition to its local top-3 BEFORE the exchange
    ("window_top_customers", 1, 0, "WindowGroupLimit"),
    # asof composition: ONE exchange on user_id, filter pushed
    ("asof_join_purchases", 1, 0, "PushedFilters: [In(event_type"),
    # broadcast ranges; the fact side shuffles only for the aggregation
    # (2 exchanges = exact count_distinct expand) + declared ORDER BY
    ("range_join_promos", 3, 1, "BroadcastNestedLoopJoin"),
    # part dim broadcasts; budget 3 since the two-level exact money agg
    # (r8): tiny partial-merge exchange + final agg + declared order by
    ("promo_revenue_ratio", 3, 1, "BroadcastHashJoin"),
    # the posting fetch must stay a PUSHED-DOWN literal term filter on the
    # staged index scan (r8) — a regression to a full-index join would
    # drop the In(w, …) from PushedFilters
    ("bm25_topk", 6, 5, "In(w, ["),
    # DSIR scoring is one narrow pass + broadcast weight join: exactly the
    # per-doc agg exchange + declared ORDER BY, nothing corpus-scale
    ("dsir_importance", 2, 1, "BroadcastHashJoin"),
    # lag window: one exchange on o_custkey
    ("order_gap_days", 1, 0, "Window"),
    # agg below the join: the orders side partial-aggregates BEFORE the
    # join, so no exchange of raw order rows survives
    ("left_outer_order_counts", 1, 0, "HashAggregate"),
    # per-stratum quota: group-limit prefilters each map partition to its
    # local top-20 BEFORE the single lang exchange
    ("stratified_sample", 1, 0, "WindowGroupLimit"),
    # benchmark shingle set broadcasts — corpus shingles never shuffle for
    # the join itself (3 exchanges: token window, shingle distinct, final agg)
    ("decontaminate", 3, 1, "BroadcastHashJoin"),
    # weights dim broadcasts; the upsampling explode is a narrow generator,
    # so the only exchange is the weights-side distinct
    ("corpus_mix", 1, 1, "BroadcastHashJoin"),
    # keep-first over chunks + per-doc reassembly: two keyed exchanges,
    # no extra sort/shuffle beyond them
    ("span_dedup", 2, 0, "Window"),
    # df table + 1-row n_docs agg broadcast back; per-doc top-k prefiltered
    # below the exchange (5th exchange = the single-row count partial)
    ("tfidf_top_terms", 5, 2, "WindowGroupLimit"),
    # lang predicate must prune partition directories at the scan
    ("partitioned_source_pruned", 2, 0, "IN (de,es)]"),
    # bucketed layout: the SMJ reads co-located buckets, zero join exchange
    # (the 2 allowed are the final agg + declared order)
    ("bucketed_join_revenue", 2, 0, "SelectedBucketsCount: 8 out of 8"),
    # gaps-and-islands SCD2: every window + the island agg share the
    # o_custkey partitioning — one keyed exchange + declared order by
    ("scd2_priority_history", 2, 0, "Window"),
    # funnel: three stacked whole-partition windows + final agg, all on
    # user_id — one keyed exchange + declared order by
    ("funnel_conversion", 2, 0, "Window"),
    # PII scrub is a narrow regexp map over the scan: the ONLY exchange is
    # the declared ORDER BY's range partitioning
    ("pii_scrub", 1, 0, "Project"),
    # TPC-H shape completions (plans/tpch_shapes.py):
    # Q2: the correlated scalar subquery must decorrelate to agg + join —
    # bounded exchanges, never a per-row subquery or cartesian re-scan
    ("min_cost_supplier", 3, 1, "BroadcastHashJoin"),
    # Q11: per-part agg + 1-row global-sum subquery + declared order
    ("important_parts", 3, 0, "Subquery"),
    # Q15: revenue view + broadcast max + broadcast supplier dim
    ("max_revenue_supplier", 4, 2, "BroadcastHashJoin"),
    # Q18: HAVING filters at aggregate cardinality BELOW the join; top-100
    # must be TakeOrdered, not a global sort
    ("large_quantity_orders", 1, 1, "TakeOrderedAndProject"),
    # Q8: only fact-fact shuffle is li⋈orders; every dim broadcasts
    ("market_share", 2, 3, "BroadcastHashJoin"),
    # Q9: same discipline — part/supplier/nation broadcast
    ("profit_by_nation_year", 2, 3, "BroadcastHashJoin"),
    # Q22: threshold is a broadcast 1-row aggregate; anti join keyed
    ("idle_high_balance_customers", 3, 1, "BroadcastHashJoin"),
]


@pytest.mark.parametrize("name,max_ex,min_bc,needle", SHAPES)
def test_plan_shape(spark, sf_dir, name, max_ex, min_bc, needle):
    plan = _plan(spark, sf_dir, name)
    shuffles = _count(plan, r"Exchange (?:hash|range|Single)")
    broadcasts = _count(plan, r"BroadcastExchange")
    assert shuffles <= max_ex, (
        f"{name}: {shuffles} shuffle exchanges (max {max_ex}) — a shuffle "
        f"crept into the plan\n{plan[:2000]}"
    )
    assert broadcasts >= min_bc, (
        f"{name}: {broadcasts} broadcasts (expected ≥ {min_bc}) — a "
        f"broadcast join degraded to a shuffle join\n{plan[:2000]}"
    )
    assert needle in plan, f"{name}: expected {needle!r} in plan\n{plan[:2000]}"


def test_rfm_has_no_window_at_all(spark, sf_dir):
    """rfm_segmentation's three ntiles use the distributed-rank pattern
    (range partition + local index + broadcast prefix offsets) — the
    executed plan must contain NO window node, partitioned or otherwise,
    hence no single-task global sort."""
    plan = _plan(spark, sf_dir, "rfm_segmentation")
    assert _count(plan, r"\bWindow \[") == 0, (
        f"rfm_segmentation regained a window node\n{plan[:2000]}"
    )


@pytest.mark.parametrize("name", ["sequence_packing", "pps_sample"])
def test_cumsum_windows_are_shard_partitioned(spark, sf_dir, name):
    """The running sums run as shard-local windows with carried-in prefix
    totals: every window spec in the executed plan must be partitioned by
    the range-shard id (_pid) — a partition-less spec would be the
    single-task global sort these plans exist to avoid."""
    plan = _plan(spark, sf_dir, name)
    specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert specs, f"{name}: expected at least one window spec\n{plan[:2000]}"
    bad = [s for s in specs if not s.startswith("_pid")]
    assert not bad, (
        f"{name}: window spec(s) not partitioned by _pid: {bad}\n{plan[:2000]}"
    )


def test_projection_prunes_scan(spark, sf_dir):
    """A two-column projection must read two columns, not the whole table —
    ReadSchema is the 100 TB scan-cost contract."""
    plan = _plan(spark, sf_dir, "identity_projection")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:1500]
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "n_chars"}, cols


def test_metadata_scan_prunes_binary_column(spark, sf_dir):
    """media_metadata aggregates metadata only — the binary payload column
    must be pruned from its scan (it is derived from `text`, so `text`
    must not be read either... it is: the payload IS encode(text). The
    check is that only the columns the query needs are scanned."""
    plan = _plan(spark, sf_dir, "media_metadata")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:1500]
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # doc_id routes media_type; text sizes the payload — nothing else.
    assert cols == {"doc_id", "text"}, cols


def test_semantic_dedup_cell_join_is_ids_only(spark, sf_dir):
    """semantic_dedup's candidate stage must self-join on (vec_id, cell)
    rows — the 64-double embedding vectors are fetched AFTER candidate
    generation, by equi-join, never carried through the cell-key shuffle.
    And the plan must contain no cartesian product: cell membership bounds
    the pair fanout."""
    plan = _plan(spark, sf_dir, "semantic_dedup")
    assert "CartesianProduct" not in plan, plan[:2000]
    ex_blocks = re.findall(
        r"Exchange hashpartitioning\(([^)]*)\)", plan
    )
    assert ex_blocks, plan[:2000]


def test_training_shuffle_has_no_global_window(spark, sf_dir):
    """training_shuffle's global position comes from the distributed-rank
    primitive — the executed plan must contain no window node (a
    partition-less row_number would be the single-task sort the primitive
    exists to avoid)."""
    plan = _plan(spark, sf_dir, "training_shuffle")
    assert _count(plan, r"\bWindow \[") == 0, (
        f"training_shuffle regained a window node\n{plan[:2000]}"
    )


def test_domain_cap_window_is_source_partitioned(spark, sf_dir):
    """domain_cap_sample ranks within source partitions — every window
    spec must be keyed by source (a partition-less spec would serialize
    the corpus through one task)."""
    plan = _plan(spark, sf_dir, "domain_cap_sample")
    specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert specs, plan[:2000]
    bad = [s for s in specs if not s.startswith("source")]
    assert not bad, (
        f"domain_cap_sample window spec(s) not keyed by source: "
        f"{bad}\n{plan[:2000]}"
    )


def test_ccnet_buckets_have_no_hot_group_window(spark, sf_dir):
    """ccnet_perplexity_buckets bands each language with the grouped
    distributed ntile and forms bigrams ARRAY-SIDE (zip the token array
    with its own tail) — the executed plan must contain no window node at
    all: no ntile, and no per-doc lead() either (the former bigram window
    paid a corpus-wide shuffle+sort that the array zip avoids)."""
    plan = _plan(spark, sf_dir, "ccnet_perplexity_buckets")
    assert "ntile" not in plan, plan[:2000]
    specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert not specs, f"unexpected window spec(s): {specs}\n{plan[:2000]}"


def test_gopher_rules_plan_is_narrow(spark, sf_dir):
    """gopher_quality_rules computes every rule with array expressions over
    one row — the executed plan must contain no hash exchange and no
    window: the only exchange allowed is the declared ORDER BY's range
    partitioning."""
    plan = _plan(spark, sf_dir, "gopher_quality_rules")
    assert _count(plan, r"Exchange hashpartitioning") == 0, plan[:2000]
    assert _count(plan, r"\bWindow \[") == 0, plan[:2000]


def test_centroid_classify_broadcasts_model(spark, sf_dir):
    """centroid_classify's scoring stage must broadcast the |labels|
    centroid arrays — the corpus never shuffles for scoring; the only hash
    exchanges are the (label, dim) centroid agg and the per-vector argmin
    partial agg."""
    plan = _plan(spark, sf_dir, "centroid_classify")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        plan[:2000]
    )
    assert "CartesianProduct" not in plan, plan[:2000]
    assert _count(plan, r"Exchange hashpartitioning") <= 3, plan[:2000]


def test_runtime_bloom_filter_injects_and_confs_restore(spark, sf_dir):
    """runtime_filtered_join's guarded action must execute with a runtime
    bloom filter (bloom_filter_agg build + might_contain probe on the
    fact side), and the session confs must be restored afterwards so
    every other query keeps its broadcasts."""
    from mapreduce_simulation_spark.plans.extended import (
        _RTF_CONFS,
        _runtime_filtered_frame,
    )

    before = {k: spark.conf.get(k, None) for k in _RTF_CONFS}
    registry.queries()["runtime_filtered_join"](spark, sf_dir).collect()
    after = {k: spark.conf.get(k, None) for k in _RTF_CONFS}
    assert before == after, f"session confs not restored: {before} -> {after}"

    for k, v in _RTF_CONFS.items():
        spark.conf.set(k, v)
    try:
        df = _runtime_filtered_frame(spark, sf_dir)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "might_contain" in plan, plan[:2000]
    assert "bloom_filter_agg" in plan or "BloomFilter" in plan, plan[:2000]


def test_ewma_has_no_window(spark, sf_dir):
    """ewma_daily_revenue's recursive state is a fold over a
    calendar-bounded series — the executed plan must contain no window
    node and must broadcast both dimension joins."""
    plan = _plan(spark, sf_dir, "ewma_daily_revenue")
    assert _count(plan, r"\bWindow \[") == 0, plan[:2000]
    assert _count(plan, r"BroadcastHashJoin") >= 2, plan[:2000]


def test_lateral_decorrelates_to_set_based(spark, sf_dir):
    """lateral_top_suppliers is written as a per-row LATERAL subquery;
    Catalyst must decorrelate it — the executed plan is a
    s_nationkey-partitioned window + broadcast join, with no cartesian
    product and no per-nation re-execution."""
    plan = _plan(spark, sf_dir, "lateral_top_suppliers")
    assert "CartesianProduct" not in plan, plan[:2000]
    specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert specs and all(s.startswith("s_nationkey") for s in specs), specs
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_exact_percentiles_have_no_window(spark, sf_dir):
    """exact_global_percentiles selects order statistics through the
    distributed-rank primitive — no window node, no single-partition
    sort; the target-rank table must broadcast."""
    plan = _plan(spark, sf_dir, "exact_global_percentiles")
    assert _count(plan, r"\bWindow \[") == 0, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_metadata_agg_pushes_to_parquet_footers(spark, sf_dir):
    """metadata_agg_pushdown's guarded aggregate must show every
    aggregate pushed into the scan (PushedAggregation) — the
    footer-statistics-only read — and the session confs must restore."""
    from mapreduce_simulation_spark.plans.extended import (
        _metadata_agg_frame,
    )

    keys = [
        "spark.sql.parquet.aggregatePushdown",
        "spark.sql.sources.useV1SourceList",
    ]
    before = {k: spark.conf.get(k, None) for k in keys}
    registry.queries()["metadata_agg_pushdown"](spark, sf_dir).collect()
    after = {k: spark.conf.get(k, None) for k in keys}
    assert before == after, f"confs not restored: {before} -> {after}"

    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set(
        "spark.sql.sources.useV1SourceList", "avro,csv,json,kafka,orc,text"
    )
    try:
        df = _metadata_agg_frame(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "PushedAggregation: [COUNT(*)" in plan, plan[:2000]


def test_dpp_scan_carries_dynamic_pruning_filter(spark, sf_dir):
    """dynamic_partition_pruning's fact scan must carry a
    dynamicpruningexpression partition filter — the join-decided runtime
    elimination of fact partitions."""
    plan = _plan(spark, sf_dir, "dynamic_partition_pruning")
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_not_in_plans_null_aware_anti_join(spark, sf_dir):
    """NOT IN over a NULLABLE subquery column cannot legally become a plain
    LEFT ANTI — the executed plan must carry the null-aware anti join flag
    (the trailing `true` on the BroadcastHashJoin), which is the physical
    operator that returns zero rows the moment the subquery yields a null.
    """
    plan = _plan(spark, sf_dir, "not_in_customers")
    assert re.search(r"LeftAnti, BuildRight, true", plan), (
        f"not_in_customers: expected the null-aware anti join flag\n"
        f"{plan[:2000]}"
    )


def test_sole_blame_scans_lineitem_once(spark, sf_dir):
    """The Q21 EXISTS/NOT-EXISTS pair is collapsed into ONE per-order
    profile: the executed plan must scan lineitem exactly once (the
    correlated form would scan it three times)."""
    plan = _plan(spark, sf_dir, "sole_blame_suppliers")
    scans = len(re.findall(r"Scan parquet[^\n]*lineitem", plan))
    assert scans == 1, (
        f"sole_blame_suppliers: {scans} lineitem scans (expected 1)\n"
        f"{plan[:2000]}"
    )


@pytest.mark.parametrize("name", ["bm25_topk", "rrf_hybrid_topk"])
def test_retrieval_rankings_prefilter_below_window(spark, sf_dir, name):
    """Every per-query ranking in the retrieval family must prefilter each
    map partition to its local top-k (WindowGroupLimit) BEFORE the rank
    window's exchange — the corpus-sized candidate set never moves whole."""
    plan = _plan(spark, sf_dir, name)
    assert "WindowGroupLimit" in plan, f"{name}: no group-limit prefilter"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"


def test_sql_udf_inlines_to_codegen(spark, sf_dir):
    """SQL-defined functions must be inlined by Catalyst at analysis
    time: the executed plan contains the raw arithmetic and ZERO
    Python-evaluation nodes — the documented opposite of the pandas/row
    UDF tiers."""
    plan = _plan(spark, sf_dir, "sql_udf_pricing")
    for needle in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert needle not in plan, f"sql_udf_pricing: {needle} in plan"
    # the function BODIES appear as raw arithmetic inside the aggregate
    # (AQE's pre-final plan string omits codegen spans, so assert the
    # inlined expressions, which is the actual claim)
    assert re.search(r"partial_sum\(cast\(\(\w+#\d+ \* \(1\.0 - ", plan), (
        plan[:2000]
    )


def test_sql_table_function_inlines_to_generate(spark, sf_dir):
    """A SQL-defined TABLE function must expand into an ordinary
    Generate/explode subtree — zero Python evaluation, unlike the Python
    UDTF it mirrors (udtf_word_count plans a BatchEvalPythonUDTF)."""
    plan = _plan(spark, sf_dir, "sql_table_function_word_count")
    for needle in ("BatchEvalPython", "ArrowEvalPython", "PythonUDTF"):
        assert needle not in plan, f"{needle} in plan"
    assert "Generate explode" in plan, plan[:1500]


def test_pipe_syntax_compiles_to_same_plan_as_ansi(spark, sf_dir):
    """The |> pipe surface is pure syntax: its OPTIMIZED logical plan must
    be identical (up to expr ids) to the nested-ANSI form of the same
    query — join order, pushed filter, aggregate placement all equal. A
    divergence would mean the pipe parser materialized stages instead of
    composing algebra."""
    import re as _re

    from mapreduce_simulation_spark.plans.extended import (
        pipe_syntax_revenue,
    )

    pipe_df = pipe_syntax_revenue(spark, sf_dir)
    ansi_df = spark.sql(
        """
        SELECT o_orderpriority,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(22,4))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem_pipe
        JOIN orders_pipe ON l_orderkey = o_orderkey
        WHERE l_discount > 0.02
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )

    def norm(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return _re.sub(r"#\d+L?", "#x", plan)

    assert norm(pipe_df) == norm(ansi_df)
    # and the filter is pushed to the scan like any other syntax
    phys = pipe_df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in phys and "l_discount" in phys


def test_sketch_queries_prune_scan_columns(spark, sf_dir):
    """The r12 sketch queries must read only the columns they use —
    quantile_sketch_monthly: (o_totalprice, o_orderdate) of 6 order
    columns; bloom_membership_audit: (doc_id, text) of 5 document
    columns. A scan of all columns for a 2-column sketch would be the
    'wrong plan' the brief calls out."""
    import re as _re

    from mapreduce_simulation_spark.operators import sketches as SK

    qplan = (
        SK.quantile_sketch_monthly(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    qschemas = set(_re.findall(r"ReadSchema: struct<([^>]*)>", qplan))
    assert qschemas, qplan[:800]
    for s in qschemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols <= {"o_totalprice", "o_orderdate"}, cols

    bplan = (
        SK.bloom_membership_audit(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for s in set(_re.findall(r"ReadSchema: struct<([^>]*)>", bplan)):
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols <= {"doc_id", "text"}, cols


def test_r13_sketch_queries_prune_scan_columns(spark, sf_dir):
    """The r13 additions must read only the columns they use —
    kmv_month_overlap: (o_orderdate, o_custkey) of 6 order columns;
    feature_drift_stats: (o_orderdate, o_totalprice)."""
    import re as _re

    from mapreduce_simulation_spark.operators import drift as D
    from mapreduce_simulation_spark.operators import sketches as SK

    kplan = (
        SK.kmv_month_overlap(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    kschemas = set(_re.findall(r"ReadSchema: struct<([^>]*)>", kplan))
    assert kschemas, kplan[:800]
    for s in kschemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols <= {"o_orderdate", "o_custkey"}, cols

    dplan = (
        D.feature_drift_stats(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for s in set(_re.findall(r"ReadSchema: struct<([^>]*)>", dplan)):
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols <= {"o_orderdate", "o_totalprice"}, cols
