"""Extended coverage queries: JSON functions, remaining set ops, grouping
sets, moving windows, exact quantiles, correlation — rounding out the
SURVEY.md §2e category checklist (all ABSENT in the reference's engine;
first-class here via Spark built-ins).

Determinism notes:
  - percentile (exact, interpolated) matches DuckDB quantile_cont
    bit-for-bit (verified on this data);
  - corr/stddev differ in the last ulp across engines → rounded to 6;
  - moving averages use decimal sums / counts like every money aggregate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..tables import load_table
from ..staging import memoized_plan, read_staged


def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar functions on the events.props payload column:
    get_json_object → typed aggregation. At scale the JSON parse is
    JVM-side codegen (no Python); a frequently-read key would justify
    promoting props to a typed column at ingest."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select(k.alias("k"), "value")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .orderBy("k")
    )


def intersect_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers who are in the BUILDING segment AND placed an
    urgent order (completes the set-op family with set_ops_segments)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = (
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    building = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    return urgent.intersect(building)


def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets: revenue by all subsets of (year, orderstatus) —
    rollup's complete twin."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube(F.year("o_orderdate").alias("yr"), F.col("o_orderstatus"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue")
        )
    )


def moving_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-frame window aggregate: 3-order trailing average of order
    value per customer (ROWS 2 PRECEDING..CURRENT)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(-2, Window.currentRow)
    )
    dec_sum = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
    cnt = F.count(F.lit(1)).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (dec_sum.cast("double") / cnt).alias("moving_avg"),
    )


def quantiles_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of line price per return flag —
    Spark `percentile` ≡ DuckDB `quantile_cont` (verified bit-equal).
    Emitted as one row per (flag, p) — scalar columns only, because the
    driver's pandas canonicalizer cannot hash ARRAY outputs."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = [0.25, 0.5, 0.9, 0.99]
    qs = F.percentile(
        "l_extendedprice", F.array(*[F.lit(p) for p in ps])
    )
    agg = li.groupBy("l_returnflag").agg(
        qs.alias("qs"), F.count(F.lit(1)).alias("n")
    )
    p_arr = F.array(*[F.lit(p) for p in ps])
    return (
        agg.select(
            "l_returnflag",
            F.posexplode("qs").alias("i", "price_quantile"),
            "n",
        )
        .select(
            "l_returnflag",
            F.element_at(p_arr, F.col("i") + 1).alias("p"),
            "price_quantile",
            "n",
        )
        .orderBy("l_returnflag", "p")
    )


def stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: correlation and sample stddev per event type
    (rounded — engines differ in the last float ulp)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.corr("value", "user_id"), 6).alias("corr_value_user"),
            F.round(F.stddev_samp("value"), 6).alias("stddev_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


def asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN: each purchase event matched to the user's most recent
    click at-or-before it. Spark has no asof-join operator; the idiomatic
    composition is a single carry-forward window pass (last non-null over
    an ordered frame) — one shuffle on user_id, O(1) state per row, vs the
    naive inequality-join which is O(clicks × purchases) per user.

    Equal timestamps count as 'before' (DuckDB ASOF `>=` semantics); the
    sort ranks clicks ahead of purchases at the same ts to match.
    """
    ev = load_table(spark, sf_dir, "events")
    cp = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("pri"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("pri").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    with_last = cp.withColumn(
        "click_ts", F.last(click_ts, ignorenulls=True).over(w)
    )
    return (
        with_last.where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            "click_ts",
            (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("gap_micros"),
        )
    )


# Fixed promotional periods for the range join (absolute, frozen).
PROMO_PERIODS = [
    (1, "2024-01-02 00:00:00", "2024-01-05 00:00:00"),
    (2, "2024-01-08 00:00:00", "2024-01-09 12:00:00"),
    (3, "2024-01-12 06:00:00", "2024-01-15 00:00:00"),
    (4, "2024-01-20 00:00:00", "2024-01-21 00:00:00"),
    (5, "2024-01-25 00:00:00", "2024-01-29 00:00:00"),
]


def range_join_promos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN: events bucketed into overlappable time periods via an
    interval-containment predicate. The period table is tiny → Spark plans
    a broadcast nested-loop join: every task filters its events against the
    broadcast ranges, no shuffle of the fact side at all. (For two LARGE
    interval sets you'd discretize time into buckets and equi-join on the
    bucket — same pattern as the LSH band join.)
    """
    ev = load_table(spark, sf_dir, "events")
    periods = spark.createDataFrame(
        PROMO_PERIODS, "period_id int, start_ts string, end_ts string"
    ).select(
        "period_id",
        F.col("start_ts").cast("timestamp").alias("start_ts"),
        F.col("end_ts").cast("timestamp").alias("end_ts"),
    )
    from pyspark.sql.functions import broadcast as _bc

    joined = ev.join(
        _bc(periods),
        (F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts")),
    )
    return (
        joined.groupBy("period_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .orderBy("period_id")
    )


def pivot_revenue_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: yearly revenue spread across order-status columns. Explicit
    value list ('F','O','P') keeps the plan a single pass (no extra
    distinct-values job) and pins the output schema — required at scale and
    for the oracle's column names."""
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.select(
            F.year("o_orderdate").cast("int").alias("yr"),
            "o_orderstatus",
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
        .groupBy("yr")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum("price").cast("double"))
    )
    return piv.select(
        "yr",
        F.col("F").alias("rev_f"),
        F.col("O").alias("rev_o"),
        F.col("P").alias("rev_p"),
    ).orderBy("yr")


def order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG window: per customer, microseconds since their previous order —
    the repeat-purchase-interval primitive. One exchange on o_custkey."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    # o_orderdate is TIMESTAMP_NTZ; timestamp_diff is pure wall-clock
    # arithmetic on NTZ — session-timezone independent, so no session conf
    # needs touching (the driver harness runs its own session).
    prev = F.lag(F.col("o_orderdate"), 1).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.timestamp_diff(
            "MICROSECOND", prev, F.col("o_orderdate")
        ).alias("gap_micros"),
    )


def priority_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (TPC-H Q12 shape): per order status, how
    many urgent/high-priority vs other orders — CASE WHEN inside SUM, one
    scan, partial aggregation map-side."""
    orders = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("o_orderstatus")
    )


def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function aggregation over the embeddings table: per label,
    vector count and mean L2 norm (rounded 6). The norm is a row-local
    fold — the shuffle moves one (label, double) pair per vector."""
    from ..operators.similarity import _as_double, _norm

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", _norm(_as_double("embedding")).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
        )
        .orderBy("label")
    )


@memoized_plan
def salted_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-robust revenue per supplier nation: lineitem ⋈ supplier through
    an explicit salted join (operators/skew.py) instead of a plain shuffle
    join. Salting only changes the *physical* key distribution — the result
    is identical to the plain join, so the oracle is the plain SQL. At
    100 TB this is the shape for a hot supplier key that AQE's skew split
    can't fix (skew.py module docstring)."""
    from ..operators.skew import salted_join

    from .relational import _money_units, exact_money_sums

    # revenue carried through the join as a LONG in 1e-4 units (8 bytes vs
    # a 16-byte decimal), summed two-level (see exact_money_sums).
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"),
        (
            _money_units(F.col("l_extendedprice"), 100)
            * (100 - _money_units(F.col("l_discount"), 100))
        ).alias("rev4"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    return (
        exact_money_sums(
            salted_join(li, supp, "suppkey"),
            ["s_nationkey"],
            [(F.col("rev4"), 10_000, "revenue")],
            counts=("n_items",),
        )
        .orderBy("s_nationkey")
    )


def pandas_scalar_digit_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas_udf (Arrow-batched): per-document digit and
    uppercase character counts. Integer outputs → exact oracle. This is the
    scalar face of the UDF surface (pipe = executables, applyInPandas =
    grouped, mapInPandas = streaming batches, this = elementwise); the
    pandas .str ops run C-speed over each Arrow batch, never row-at-a-time
    Python."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def n_digits(s: pd.Series) -> pd.Series:
        return s.str.count(r"[0-9]").astype("int64")

    @pandas_udf("long")
    def n_upper(s: pd.Series) -> pd.Series:
        return s.str.count(r"[A-Z]").astype("int64")

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", n_digits("text").alias("n_digits"), n_upper("text").alias("n_upper")
    )


@memoized_plan
def events_daily_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale variant of events_daily: approximate distinct users per
    (day, type) via the engine's deterministic HLL (functions/hll.py).
    The exact distinct needs a second expand-exchange over (day, type,
    user); the sketch folds into two ordinary partial/final aggregations
    whose shuffle is bounded by min(users, HLL_M) register rows per group
    — constant memory per group at any corpus size.

    Unlike approx_count_distinct (whose HLL++ internals DuckDB cannot
    replay → rows-only forever), every step here — hash, register, rank,
    estimate — is bit-reproducible cross-engine, so the driver value-hash
    checks the estimates exactly; the accuracy envelope vs the exact
    count is additionally asserted in tests."""
    from ..functions import hll as H

    ev = load_table(spark, sf_dir, "events")
    reg, rho = H.hll_register_cols("user_id")
    state = (
        ev.select(
            F.col("ts").cast("date").alias("day"),
            "event_type",
            reg.alias("reg"),
            rho.alias("rho"),
        )
        .groupBy("day", "event_type", "reg")
        .agg(
            F.max("rho").alias("maxrho"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    return (
        H.hll_group_estimate(
            state,
            ["day", "event_type"],
            spark,
            extra_sums={"n_events": "n_rows"},
        )
        .select(
            "day",
            "event_type",
            "n_events",
            F.col("approx").alias("n_users_approx"),
        )
        .orderBy("day", "event_type")
    )


def _events_daily_approx_sql() -> str:
    from ..functions import hll as H

    return f"""
WITH lc AS {H.lc_table_cte()},
state AS ({H.hll_state_sql(
        "(SELECT CAST(ts AS DATE) AS day, event_type, user_id FROM events)",
        "user_id",
        "day, event_type",
    )})
SELECT day, event_type, n_events, approx AS n_users_approx
FROM ({H.hll_estimate_sql(
        "day, event_type",
        {"n_events": "CAST(sum(n_rows) AS BIGINT)"},
    )})
ORDER BY day, event_type
"""


EVENTS_DAILY_APPROX_SQL = _events_daily_approx_sql()


@memoized_plan
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape over the star schema's part dimension: share of
    revenue from PROMO-type parts, by ship month. The part table broadcasts
    (dimension ≪ fact); both the conditional and total sums fold in one
    partial/final aggregation pass over the joined scan — completes query
    coverage of every star-schema table."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    from pyspark.sql.functions import broadcast as _bc

    from .relational import _money_units

    # Two-level exact money sums, inlined (the pct derives from BOTH
    # decimal totals, which exact_money_sums doesn't expose): revenue as a
    # LONG in 1e-4 units, per-map-partition long partials, decimal merge.
    # The pct's decimal division rounds the identical rational sp·100/sr
    # at the same clamped scale 6 as the decimal(38,4)-operand original,
    # so values are unchanged (verified exact at sf0.01 and sf0.1).
    rev4 = _money_units(F.col("l_extendedprice"), 100) * (
        100 - _money_units(F.col("l_discount"), 100)
    )
    joined = li.join(_bc(part), F.col("l_partkey") == F.col("p_partkey"))
    part_rows = (
        joined.select(
            F.year("l_shipdate").cast("int").alias("yr"),
            F.month("l_shipdate").cast("int").alias("mo"),
            rev4.alias("rev4"),
            F.when(F.col("p_type") == "PROMO", rev4)
            .otherwise(F.lit(0).cast("long"))
            .alias("promo4"),
        )
        .groupBy("yr", "mo", F.spark_partition_id().alias("_pid"))
        .agg(
            F.sum("promo4").alias("_pp"),
            F.sum("rev4").alias("_pr"),
        )
    )
    sp = F.sum(F.col("_pp").cast("decimal(38,0)"))
    sr = F.sum(F.col("_pr").cast("decimal(38,0)"))
    return (
        part_rows.groupBy("yr", "mo")
        .agg(
            (sp / F.lit(10_000)).cast("double").alias("promo_revenue"),
            (sr / F.lit(10_000)).cast("double").alias("total_revenue"),
            F.round((sp * 100 / sr).cast("double"), 6).alias("promo_pct"),
        )
        .orderBy("yr", "mo")
    )


def above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the SQL surface: orders priced at
    >2× their customer's average. Catalyst decorrelates the subquery into
    an aggregate + join (no per-row re-execution) — the optimization the
    reference's opaque-executable model can never see. Registered via
    spark.sql to exercise the SQL entry point; every other query uses the
    DataFrame API, both lower into the same plans. The view name is
    query-unique so no caller's registration of plain `orders` (e.g.
    tables.load_all) is clobbered as a side effect."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_above_avg"
    )
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders_above_avg o
        WHERE o_totalprice > 2 * (
          SELECT avg(i.o_totalprice) FROM orders_above_avg i
          WHERE i.o_custkey = o.o_custkey)
        ORDER BY o_orderkey
        """
    )


def props_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSON → map → explode: props parsed with from_json
    into map<string,long> (generic over keys, unlike the single-path
    get_json_object twin), exploded to key/value rows, aggregated per key
    and value bucket. Completes the semi-structured family: path extract
    (json_props_extract), typed parse, map functions, and generator
    (explode) over map entries — all JVM-side."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        F.explode(
            F.from_json(F.col("props"), "map<string,bigint>")
        ).alias("pkey", "pval")
    )
    return (
        parsed.groupBy("pkey", (F.col("pval") % 10).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("pval").alias("min_val"),
            F.max("pval").alias("max_val"),
        )
        .orderBy("pkey", "bucket")
    )


def customer_balance_ntiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: quartile (ntile) and percent_rank of
    customer balance within each nation — the ranking family beyond
    row_number (window_top_customers) and lag (order_gap_days). One
    exchange on c_nationkey serves both functions."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return cust.select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


def csv_source_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source path end-to-end: orders staged as headered CSV with
    explicit timestamp formatting, read back with an explicit schema (no
    inference job — mandatory at scale: inference is a full extra scan),
    then aggregated. Proves the text-format source contract the same way
    text_dir_word_count proves the line-oriented one; same oracle as
    monthly_revenue because the roundtrip is lossless."""
    from ..staging import staging_dir

    stage = staging_dir("orders_csv_")
    load_table(spark, sf_dir, "orders").write.mode("overwrite").option(
        "header", True
    ).option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss").csv(stage)
    orders = (
        spark.read.schema(
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp_ntz, "
            "o_orderpriority string"
        )
        .option("header", True)
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(stage)
    )
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mo"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("yr", "mo")
    )


def json_source_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source path end-to-end: customers staged as newline-
    delimited JSON, read back with an explicit schema (inference would be
    an extra full scan — never at scale), then aggregated per market
    segment. The third text-format source next to the text-dir and CSV
    roundtrips; same decimal-accumulation discipline so the oracle hash is
    partition-independent."""
    from ..staging import staging_dir

    stage = staging_dir("customer_json_")
    load_table(spark, sf_dir, "customer").write.mode("overwrite").json(stage)
    customers = spark.read.schema(
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    ).json(stage)
    return (
        customers.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


def orc_source_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source path: parts staged as ORC (Spark's second columnar
    format — same vectorized reader, predicate pushdown, and column
    pruning contracts as parquet), read back and aggregated per brand.
    DuckDB cannot read ORC, so the oracle runs the same aggregation on the
    registered parquet view — valid because the roundtrip is lossless and
    the staged rows ARE the table's rows; what's under test is the
    Spark-side ORC write/read path."""
    from ..staging import staging_dir

    stage = staging_dir("part_orc_")
    load_table(spark, sf_dir, "part").write.mode("overwrite").orc(stage)
    parts = spark.read.orc(stage)
    return (
        parts.where(F.col("p_size") >= 10)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.col("p_retailprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("p_brand")
    )


def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible sampling by content hash: keep documents whose
    fingerprint falls in a fixed residue class (~5%). Unlike
    df.sample(seed) — whose output depends on partitioning and row order —
    a hash-mod predicate selects the same rows on any cluster layout, any
    engine, any day: the property a training-data sample must have to be
    auditable. Pushdown-friendly (a scan-side filter) and the oracle is the
    same arithmetic."""
    from ..functions.hashing import char_hash

    docs = load_table(spark, sf_dir, "documents")
    return docs.where(
        (char_hash(F.col("text")) % 20) == 0
    ).select("doc_id", "source", "n_chars")


def nation_top_customer_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: per nation, the sorted list of its top-5 customer
    keys by balance. collect_list alone is order-nondeterministic across
    partitionings — sort_array (plus a deterministic top-k input) pins it,
    the rule for any list-valued aggregate that feeds a hash-checked or
    cached artifact."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    top = cust.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 5)
    return (
        top.groupBy("c_nationkey")
        .agg(
            # Serialized as a CSV string: the driver's pandas canonicalizer
            # cannot hash ARRAY columns, and the sorted join pins order.
            F.concat_ws(
                ",", F.sort_array(F.collect_list("c_custkey"))
            ).alias("top_custkeys"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("c_nationkey")
    )


def trailing_window_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (value-based, not row-count-based): each order's
    trailing 30-day revenue for the same customer. rangeBetween needs a
    numeric ordering key → epoch seconds; the frame covers [t-30d, t]
    regardless of how many orders fall inside — the semantics ROWS frames
    cannot express."""
    orders = load_table(spark, sf_dir, "orders")
    # Wall-clock seconds since the NTZ epoch (timestamp_diff on NTZ is
    # session-timezone independent) — same ordering values as the oracle's
    # epoch(o_orderdate) without mutating session conf.
    epoch = F.timestamp_diff(
        "SECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col("o_orderdate"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch)
        .rangeBetween(-30 * 86400, 0)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_30d_revenue"),
    )


def exists_returned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the SQL surface: orders with at least one
    returned line item. Catalyst rewrites EXISTS to a left-semi join —
    same engine path as semi_join_customers, different source syntax
    (completing the subquery family: scalar-correlated, IN, NOT IN,
    EXISTS)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_x")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_x")
    return spark.sql(
        """
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders_x o
        WHERE EXISTS (
          SELECT 1 FROM lineitem_x l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        ORDER BY o_orderkey
        """
    )


def partitioned_source_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout as a first-class source path: documents
    staged partitioned by lang, read back with a lang predicate that prunes
    to two of five partition directories (PartitionFilters in the scan — the
    files for other langs are never opened). At 100 TB, partitioning on the
    dominant filter column is the difference between scanning 2/5 of the
    corpus and all of it; the plan-shape test asserts the pruning. Oracle
    runs on the original table — valid because the partitioned roundtrip is
    lossless."""
    from ..staging import staging_dir

    stage = staging_dir("docs_by_lang_")
    load_table(spark, sf_dir, "documents").write.partitionBy("lang").mode(
        "overwrite"
    ).parquet(stage)
    docs = read_staged(spark, stage)
    return (
        docs.where(F.col("lang").isin("de", "es"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang", "source")
    )


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join as a first-class query: lineitem and orders
    staged bucketed+sorted on the order key (8 buckets), then sort-merge
    joined bucket-to-bucket with NO exchange on either side — the
    deployment lever for a recurring fact-fact join at 100 TB (pay the
    shuffle once at layout time, never per query). The merge hint forces
    SMJ without mutating session conf; the plan-shape test asserts
    exchange-free. Oracle is the same join+agg on the original tables —
    the bucketed layout holds identical rows."""
    from ..staging import staging_dir

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    # External tables at fresh staging paths: the default warehouse dir
    # outlives the (in-memory) catalog across sessions, so a managed table
    # would collide with its own leftover location on the next run.
    spark.sql("DROP TABLE IF EXISTS q_li_bucketed")
    spark.sql("DROP TABLE IF EXISTS q_ord_bucketed")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
        "path", staging_dir("li_bucketed_") + "/t"
    ).mode("overwrite").saveAsTable("q_li_bucketed")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").option(
        "path", staging_dir("ord_bucketed_") + "/t"
    ).mode("overwrite").saveAsTable("q_ord_bucketed")
    joined = spark.table("q_li_bucketed").join(
        spark.table("q_ord_bucketed").hint("merge"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(22,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_orderstatus")
    )


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form under rollup/cube): revenue
    by (year, status), by year alone, and by status alone — but NOT the
    grand total, which neither rollup nor cube can express alone;
    grouping_id disambiguates the NULL-as-aggregate rows from genuine
    NULLs. One Expand + one aggregation exchange, same engine path as
    rollup_revenue/cube_revenue."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_gsets_x"
    )
    return spark.sql(
        """
        SELECT year(o_orderdate) AS yr, o_orderstatus,
               CAST(grouping_id(year(o_orderdate), o_orderstatus) AS BIGINT)
                 AS gid,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue,
               count(*) AS n_orders
        FROM orders_gsets_x
        GROUP BY GROUPING SETS ((year(o_orderdate), o_orderstatus),
                                (year(o_orderdate)), (o_orderstatus))
        ORDER BY gid, yr NULLS FIRST, o_orderstatus NULLS FIRST
        """
    )


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics on plain parquet tables (no Delta/Iceberg in
    this environment): an updates feed — price corrections for every 50th
    order plus brand-new orders — applied to the base table as
    WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT. Expressed as a
    full-outer join on the key with coalesce(updated, base) per column —
    exactly the reconciliation plan a MERGE executes underneath.

    Scale: one shuffle on the merge key for each side (or zero with
    bucketed layouts — see bucketed_join_revenue); the updates side is
    usually small → broadcastable, making MERGE a map-side operation. The
    `is_updated` flag carries provenance for auditability.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    # New keys are the negation of an existing key: orderkeys are strictly
    # positive at every scale factor, so -k can never collide with a real
    # key (k + 10^9 would, once SF pushes the key space past 10^9).
    updates = (
        orders.where(F.col("o_orderkey") % 50 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
            F.lit("U").alias("o_orderstatus"),
        )
        .union(
            orders.where(F.col("o_orderkey") % 77 == 0).select(
                (-F.col("o_orderkey")).alias("o_orderkey"),
                "o_custkey",
                "o_totalprice",
                F.lit("N").alias("o_orderstatus"),
            )
        )
    )
    b = orders.alias("b")
    u = updates.alias("u")
    merged = b.join(
        u, F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full_outer"
    )
    pick = lambda c: F.coalesce(F.col(f"u.{c}"), F.col(f"b.{c}")).alias(c)
    return merged.select(
        pick("o_orderkey"),
        pick("o_custkey"),
        pick("o_totalprice"),
        pick("o_orderstatus"),
        F.col("u.o_orderkey").isNotNull().alias("is_updated"),
    )


def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling audit over orders: one row per column with null
    count, approximate-free exact distinct count, and min/max rendered as
    strings — the schema-stable long form every ingestion pipeline runs
    before trusting a feed. Single pass: all per-column aggregates compute
    in ONE partial/final aggregation over one scan (no per-column jobs);
    the long-form pivot is a literal stack, not a shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.count(c).alias(f"{c}__nn"),
            F.count_distinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__mn"),
            F.max(c).cast("string").alias(f"{c}__mx"),
        ]
    wide = orders.agg(*aggs)
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        (F.col(f"{c}__n") - F.col(f"{c}__nn")).alias("n_nulls"),
                        F.col(f"{c}__nd").alias("n_distinct"),
                        F.col(f"{c}__mn").alias("min_value"),
                        F.col(f"{c}__mx").alias("max_value"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.*").orderBy("column_name")


TABLE_PROFILE_SQL = """
SELECT column_name, n_nulls, n_distinct, min_value, max_value FROM (
  SELECT 'o_orderkey' AS column_name,
         count(*) - count(o_orderkey) AS n_nulls,
         count(DISTINCT o_orderkey) AS n_distinct,
         CAST(min(o_orderkey) AS VARCHAR) AS min_value,
         CAST(max(o_orderkey) AS VARCHAR) AS max_value FROM orders
  UNION ALL
  SELECT 'o_custkey', count(*) - count(o_custkey), count(DISTINCT o_custkey),
         CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
         count(DISTINCT o_orderstatus),
         CAST(min(o_orderstatus) AS VARCHAR),
         CAST(max(o_orderstatus) AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_totalprice', count(*) - count(o_totalprice),
         count(DISTINCT o_totalprice),
         CAST(min(o_totalprice) AS VARCHAR),
         CAST(max(o_totalprice) AS VARCHAR) FROM orders
)
ORDER BY column_name
"""


def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution source path: two parquet generations staged side by
    side — v1 lacks the `quality_tier` column that v2 adds — read as one
    dataset with mergeSchema, which back-fills v1 rows with NULL. The
    standard situation in any long-lived 100 TB lake (columns appear over
    time; re-writing history is not an option). mergeSchema costs a footer
    read per file at planning; pin the unified schema explicitly in
    recurring production reads. Aggregation counts tiered vs legacy rows
    per lang so the NULL back-fill itself is what's checked."""
    docs = load_table(spark, sf_dir, "documents")
    from ..staging import staging_dir

    stage = staging_dir("docs_evolved_")
    docs.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", "n_chars"
    ).write.mode("overwrite").parquet(stage + "/v1")
    docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "lang",
        "n_chars",
        F.when(F.col("n_chars") >= 120, "high").otherwise("low").alias(
            "quality_tier"
        ),
    ).write.mode("overwrite").parquet(stage + "/v2")
    merged = spark.read.option("mergeSchema", True).parquet(
        stage + "/v1", stage + "/v2"
    )
    return (
        merged.groupBy("lang", "quality_tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang", F.col("quality_tier").asc_nulls_first())
    )


def skewed_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-user counts per event type via the two-phase de-dup
    rewrite (operators/skew.py::two_phase_distinct) — the skew-proof twin
    of events_daily's native count_distinct: phase 1 shuffles on
    (event_type, user_id) so a viral event type still balances, phase 2
    counts de-duped rows."""
    from ..operators.skew import two_phase_distinct

    ev = load_table(spark, sf_dir, "events")
    return two_phase_distinct(ev, "event_type", "user_id").orderBy(
        "event_type"
    )


def unpivot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the wide per-status revenue table folded back to
    long form with the official DataFrame.unpivot API — pivot's inverse,
    completing the reshape family. Narrow op (each wide row expands to 3
    long rows in place, no shuffle beyond pivot's own); NULL cells (status
    absent in a year) are dropped, matching SQL UNPIVOT semantics."""
    wide = pivot_revenue_by_status(spark, sf_dir)
    return (
        wide.unpivot(
            ids=["yr"],
            values=["rev_f", "rev_o", "rev_p"],
            variableColumnName="status_col",
            valueColumnName="revenue",
        )
        .where(F.col("revenue").isNotNull())
        .select(
            "yr",
            F.upper(F.substring("status_col", 5, 1)).alias("o_orderstatus"),
            "revenue",
        )
        .orderBy("yr", "o_orderstatus")
    )


def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history built from an event-like
    fact: each customer's order-priority regime collapsed into validity
    ranges — the gaps-and-islands pattern (lag → change flag → running sum
    → island id) followed by the SCD2 close-off (each island's valid_to =
    the next island's valid_from; NULL marks the current version).

    Scale: every step — both sequencing windows, the island groupBy, and
    the close-off lead window — partitions on o_custkey, so Catalyst plans
    ONE keyed exchange for the whole history build (plus the declared
    ORDER BY's range exchange — asserted in tests/test_plan_shapes.py).
    Dates flow as epoch microseconds (exact integers on both engines)."""
    # o_orderdate is TIMESTAMP_NTZ: µs-since-epoch via pure wall-clock
    # arithmetic (session-timezone independent; matches DuckDB epoch_us).
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        F.timestamp_diff("MICROSECOND", epoch, F.col("o_orderdate")).alias(
            "od_us"
        ),
        "o_orderkey",
    )
    wseq = Window.partitionBy("o_custkey").orderBy("od_us", "o_orderkey")
    prev = F.lag("o_orderpriority").over(wseq)
    chg = (
        F.when(prev.isNull() | (prev != F.col("o_orderpriority")), 1)
        .otherwise(0)
    )
    isl = orders.withColumn("chg", chg).withColumn(
        "island", F.sum("chg").over(wseq)
    )
    grp = isl.groupBy("o_custkey", "island", "o_orderpriority").agg(
        F.min("od_us").alias("valid_from_us"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    wisl = Window.partitionBy("o_custkey").orderBy("island")
    return (
        grp.withColumn("valid_to_us", F.lead("valid_from_us").over(wisl))
        .select(
            "o_custkey",
            "island",
            "o_orderpriority",
            "valid_from_us",
            "valid_to_us",
            "n_orders",
        )
        .orderBy("o_custkey", "island")
    )


SCD2_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderpriority, epoch_us(o_orderdate) AS od_us,
         o_orderkey
  FROM orders
),
seq AS (
  SELECT *, CASE WHEN lag(o_orderpriority) OVER w IS NULL
                   OR lag(o_orderpriority) OVER w <> o_orderpriority
                 THEN 1 ELSE 0 END AS chg
  FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY od_us, o_orderkey)
),
isl AS (
  SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey
                                ORDER BY od_us, o_orderkey) AS BIGINT) AS island
  FROM seq
),
grp AS (
  SELECT o_custkey, island, o_orderpriority,
         min(od_us) AS valid_from_us, count(*) AS n_orders
  FROM isl GROUP BY 1, 2, 3
)
SELECT o_custkey, island, o_orderpriority, valid_from_us,
       lead(valid_from_us) OVER (PARTITION BY o_custkey ORDER BY island)
         AS valid_to_us,
       n_orders
FROM grp
ORDER BY o_custkey, island
"""


# Sweep-line window length: how long an event is considered "active".
CONCURRENCY_WINDOW_US = 1800 * 1_000_000


def event_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type: the maximum number of
    simultaneously-active events, where each event is active for 30
    minutes from its timestamp — the sweep-line pattern (explode each
    interval to a +1 start / -1 end point, running sum over time, max).
    The interval-overlap primitive behind concurrent-session counting and
    capacity planning.

    Determinism: the running sum uses the default RANGE frame, so rows
    tied on (ts_us, delta) are peers and share one cumulative value —
    tie order cannot change the result on either engine. End points sort
    before start points at the same instant (delta ASC ⇒ half-open
    [ts, ts+30m) intervals).

    Scale (r10): TWO-PHASE distributed sweep. The partition key has small
    cardinality (5 types), so a plain partitionBy(event_type) window
    sweeps each type's entire point stream on ONE task — measured 3.1×
    wall at a ×10 density probe while every per-user operator stayed
    ~1×. Decomposed like any distributed prefix sum: partition by
    (type, day-bucket) — local running sum within each bucket in
    parallel — then add each bucket's carry-in (the prefix sum of
    per-bucket delta totals, a types×buckets-row window, broadcast back).
    Exact: boundary points land in exactly one bucket, RANGE-frame peers
    never span buckets (same ts ⇒ same bucket), and integer addition
    commutes with the split. Per-task work is now one bucket's points,
    independent of total history length."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("ts_us")
    )
    starts = ev.select("event_type", "ts_us", F.lit(1).alias("delta"))
    ends = ev.select(
        "event_type",
        (F.col("ts_us") + CONCURRENCY_WINDOW_US).alias("ts_us"),
        F.lit(-1).alias("delta"),
    )
    day_us = 86_400 * 1_000_000
    # integral bucket key (long/long division was exact only below 2^53
    # and made a DOUBLE window/join key — r11 advice); ts_us is nonneg so
    # div == floor here
    pts = starts.union(ends).withColumn(
        "bucket", F.expr(f"ts_us div {day_us}")
    )
    w_local = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("ts_us").asc(), F.col("delta").asc()
    )
    local = pts.withColumn("local_run", F.sum("delta").over(w_local))
    # carry-in per bucket: prefix sum of earlier buckets' delta totals —
    # |types|×|buckets| rows, so this window is metadata-scale
    w_carry = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        pts.groupBy("event_type", "bucket")
        .agg(F.sum("delta").alias("btot"))
        .withColumn(
            "carry_in", F.coalesce(F.sum("btot").over(w_carry), F.lit(0))
        )
        .select("event_type", "bucket", "carry_in")
    )
    swept = local.join(F.broadcast(carry), ["event_type", "bucket"]).withColumn(
        "running", F.col("local_run") + F.col("carry_in")
    )
    return (
        swept.groupBy("event_type")
        .agg(F.max("running").alias("peak_concurrency"))
        .join(
            ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events")),
            "event_type",
        )
        .select("event_type", "peak_concurrency", "n_events")
        .orderBy("event_type")
    )


PEAK_CONCURRENCY_SQL = f"""
WITH e AS (
  SELECT event_type, epoch_us(ts) AS ts_us FROM events
),
points AS (
  SELECT event_type, ts_us, 1 AS delta FROM e
  UNION ALL
  SELECT event_type, ts_us + {CONCURRENCY_WINDOW_US}, -1 FROM e
),
swept AS (
  SELECT event_type,
         sum(delta) OVER (PARTITION BY event_type
                          ORDER BY ts_us ASC, delta ASC) AS running
  FROM points
)
SELECT s.event_type,
       CAST(max(s.running) AS BIGINT) AS peak_concurrency,
       c.n_events
FROM swept s
JOIN (SELECT event_type, count(*) AS n_events FROM e GROUP BY event_type) c
  USING (event_type)
GROUP BY s.event_type, c.n_events
ORDER BY s.event_type
"""


def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksums for cross-environment data
    validation ("did the copy/migration produce the same table?"): each
    row is canonicalized to a delimited string over engine-stable columns
    (integers, strings, µs-precision timestamps — no floats), hashed with
    the cross-engine polynomial hash, and the per-table checksum is the
    SUM of row hashes mod P — commutative, so any partitioning or row
    order yields the same value.

    Scale: one scan per table, all-JVM expressions, a single scalar
    aggregate (partial sums per partition, one exchange of one row). The
    decimal(38,0) accumulator keeps the sum exact past int64 at row
    counts where sum(hash) overflows. In production the same shape runs
    with xxhash64 for speed; the polynomial hash is the cross-engine-
    verifiable variant."""
    from ..functions.hashing import P, char_hash

    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")

    def checksum(df: DataFrame, name: str, cols: list) -> DataFrame:
        row = F.concat_ws("|", *[c.cast("string") for c in cols])
        return df.select(char_hash(row).alias("h")).agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(F.col("h").cast("decimal(38,0)")) % P)
            .cast("long")
            .alias("checksum"),
        )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    o_sum = checksum(
        orders,
        "orders",
        [
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
            F.timestamp_diff("MICROSECOND", epoch, F.col("o_orderdate")),
        ],
    )
    c_sum = checksum(
        cust,
        "customer",
        [
            F.col("c_custkey"),
            F.col("c_name"),
            F.col("c_nationkey"),
            F.col("c_mktsegment"),
        ],
    )
    return o_sum.union(c_sum).orderBy("table_name")


def _row_checksum_sql(cols: str) -> str:
    from ..functions.hashing import char_hash_sql

    return char_hash_sql(f"concat_ws('|', {cols})")


def _table_checksum_sql() -> str:
    from ..functions.hashing import P

    o_cols = (
        "CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), "
        "o_orderstatus, o_orderpriority, "
        "CAST(epoch_us(o_orderdate) AS VARCHAR)"
    )
    c_cols = (
        "CAST(c_custkey AS VARCHAR), CAST(c_name AS VARCHAR), "
        "CAST(c_nationkey AS VARCHAR), c_mktsegment"
    )
    return f"""
SELECT * FROM (
  SELECT 'orders' AS table_name, count(*) AS n_rows,
         CAST(sum({_row_checksum_sql(o_cols)}) % {P} AS BIGINT) AS checksum
  FROM orders
  UNION ALL
  SELECT 'customer', count(*),
         CAST(sum({_row_checksum_sql(c_cols)}) % {P} AS BIGINT)
  FROM customer
) ORDER BY table_name
"""


TABLE_CHECKSUM_SQL = _table_checksum_sql()


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC-detect): compare two versions of the orders
    table keyed on o_orderkey and emit every key whose row was added,
    removed, or changed — the detection half of change-data-capture
    (merge_upsert_orders is the apply half). Snapshot B is derived
    deterministically from A so both engines build identical inputs:
    keys ≡ 0 (mod 97) deleted, keys ≡ 0 (mod 101) get status 'X',
    keys ≡ 0 (mod 103) are re-inserted as new keys offset by
    max(o_orderkey) — collision-free at ANY scale factor because the
    offset is derived from the data, not a constant.

    Scale: row identity is compared via the char hash of a canonical
    column concat, so the full-outer join carries (key, 8-byte hash) —
    never the row payload — and both sides hash-partition on the key
    once. Unchanged keys (the overwhelming majority in a real diff) are
    filtered immediately after the join, before anything wider happens;
    with both snapshots bucketed on the key the join would need no
    exchange at all."""
    from ..functions.hashing import char_hash

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    key = F.col("o_orderkey")
    snap_b = (
        base.where(key % 97 != 0)
        .withColumn(
            "o_orderstatus",
            F.when(key % 101 == 0, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .union(
            base.where(key % 103 == 0)
            .crossJoin(
                F.broadcast(base.agg(F.max("o_orderkey").alias("mx")))
            )
            .select(
                (key + F.col("mx")).alias("o_orderkey"),
                F.col("o_custkey"),
                F.lit("N").alias("o_orderstatus"),
                F.col("o_orderpriority"),
            )
        )
    )

    def hashed(df: DataFrame) -> DataFrame:
        row = F.concat_ws(
            "|",
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
        )
        return df.select("o_orderkey", char_hash(row).alias("h"))

    a = hashed(base).alias("a")
    b = hashed(snap_b).alias("b")
    joined = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full")
    change = (
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "removed")
        .when(F.col("a.h") != F.col("b.h"), "changed")
    )
    return (
        joined.select(
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias(
                "o_orderkey"
            ),
            change.alias("change_type"),
        )
        .where(F.col("change_type").isNotNull())
        .orderBy("o_orderkey")
    )


def _snapshot_diff_sql() -> str:
    row = _row_checksum_sql(
        "CAST(o_custkey AS VARCHAR), o_orderstatus, o_orderpriority"
    )
    return f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM orders
),
snap_b AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 101 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         o_orderpriority
  FROM base WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + (SELECT max(o_orderkey) FROM base), o_custkey, 'N',
         o_orderpriority
  FROM base WHERE o_orderkey % 103 = 0
),
a AS (SELECT o_orderkey, {row} AS h FROM base),
b AS (SELECT o_orderkey, {row} AS h FROM snap_b)
SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
       CASE WHEN a.o_orderkey IS NULL THEN 'added'
            WHEN b.o_orderkey IS NULL THEN 'removed'
            WHEN a.h <> b.h THEN 'changed' END AS change_type
FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
WHERE (CASE WHEN a.o_orderkey IS NULL THEN 'added'
            WHEN b.o_orderkey IS NULL THEN 'removed'
            WHEN a.h <> b.h THEN 'changed' END) IS NOT NULL
ORDER BY o_orderkey
"""


SNAPSHOT_DIFF_SQL = _snapshot_diff_sql()


def price_trend_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates: per nation, the OLS slope/intercept/R²
    of order price over order date (in days) — completing the statistical
    aggregate family (corr/stddev in stats_correlation) with the built-in
    regr_* functions both engines implement. Values are rounded to 6
    decimals: the sum-of-products accumulations differ in the last float
    ulps across engines/partitionings (same policy as stats_correlation).

    Scale: one partial-aggregated groupBy after a broadcast dim join —
    regression sums are just five extra partial aggregates per group."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    x_days = (
        F.timestamp_diff("MICROSECOND", epoch, F.col("o_orderdate"))
        / F.lit(86_400_000_000.0)
    )
    from pyspark.sql.functions import broadcast as _bc

    joined = (
        orders.join(_bc(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(_bc(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", x_days.alias("x"), F.col("o_totalprice").alias("y"))
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(F.regr_slope("y", "x"), 6).alias("slope"),
            F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
            F.round(F.regr_r2("y", "x"), 6).alias("r2"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("n_name")
    )


PRICE_TREND_SQL = """
WITH j AS (
  SELECT n_name,
         epoch_us(o_orderdate) / 86400000000.0 AS x,
         o_totalprice AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
)
SELECT n_name,
       round(regr_slope(y, x), 6) AS slope,
       round(regr_intercept(y, x), 6) AS intercept,
       round(regr_r2(y, x), 6) AS r2,
       count(*) AS n_orders
FROM j
GROUP BY n_name
ORDER BY n_name
"""


def binary_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media ingestion through Spark's `binaryFile` source: the staged
    media payloads land as one opaque blob file per document (the way
    image/audio corpora arrive on a filesystem or object store), then the
    binaryFile reader lists the directory, and each row is (path, length,
    content). The doc key is recovered from the file name, and content
    integrity is proven by checksumming the blob against the original
    text bytes in the oracle.

    Scale: the stage-out runs executor-side (foreachPartition — on a
    cluster the destination is a shared filesystem/object store); the
    binaryFile scan is a plain file-parallel source whose partitioning
    follows spark.sql.files.maxPartitionBytes, and only (path, length,
    md5) flow past the scan — blobs stay in their partitions."""
    from ..operators.multimodal import synthesize_media
    from ..staging import staging_dir

    stage = staging_dir("media_blobs_")
    media = synthesize_media(spark, sf_dir).select("doc_id", "media")

    def write_blobs(rows) -> None:
        import os

        for r in rows:
            with open(os.path.join(stage, f"{r['doc_id']}.bin"), "wb") as f:
                f.write(r["media"])

    media.foreachPartition(write_blobs)
    bf = spark.read.format("binaryFile").load(stage)
    return (
        bf.select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5("content").alias("content_md5"),
        )
        .orderBy("doc_id")
    )


BINARY_FILE_SOURCE_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
ORDER BY doc_id
"""


def kvtext_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the `kvtext` custom connector (the reference's
    native key/value text format as a registered Spark DataSource): stage
    documents as ``doc_id<TAB>text`` lines (tabs/newlines in the payload
    flattened to spaces — the format is line-oriented), read them back
    with spark.read.format("kvtext"), and reduce to per-doc lengths. The
    oracle applies the same flattening to the parquet table, so a value
    mismatch anywhere in the connector (file listing, line split, kv
    parse) surfaces as a hash mismatch.

    Scale: the connector hands each file to the JVM as one Arrow batch
    (vectorized DataSource path); the aggregation below is plain
    codegen. For formats Spark already speaks, built-in sources remain
    the fast path — this demonstrates the extensibility surface."""
    from ..sources.kvtext import register_kvtext
    from ..staging import staging_dir

    register_kvtext(spark)
    stage = staging_dir("docs_kvtext_")
    docs = load_table(spark, sf_dir, "documents")
    flat = F.regexp_replace("text", r"[\t\n\r]", " ")
    docs.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), flat).alias("value")
    ).write.mode("overwrite").text(stage)
    kv = spark.read.format("kvtext").load(stage)
    return kv.select(
        F.col("key").cast("long").alias("doc_id"),
        F.length("value").cast("long").alias("n_chars_flat"),
    ).orderBy("doc_id")


KVTEXT_SOURCE_SQL = r"""
SELECT doc_id,
       CAST(length(regexp_replace(text, '[\t\n\r]', ' ', 'g')) AS BIGINT)
         AS n_chars_flat
FROM documents
ORDER BY doc_id
"""


def densify_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification (time-series gap filling): daily order
    revenue per order status over the COMPLETE calendar spine — days with
    no orders appear with revenue 0 and n_orders 0, which is what rolling
    models and charting downstream require. The spine is generated from
    the table's own [min_day, max_day] bounds (a 1-row aggregate), crossed
    with the distinct status values, and the sparse daily aggregate is
    left-joined onto it.

    Scale: the spine is days × statuses — thousands of rows regardless of
    fact size — so it broadcasts; the fact side contributes one
    partial-aggregated groupBy. Dates are exchanged as DATE (wall-clock
    from the NTZ timestamp, identical on both engines)."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.to_date("o_orderdate").alias("day")
    daily = (
        orders.select(F.col("o_orderstatus"), day, F.col("o_totalprice"))
        .groupBy("o_orderstatus", "day")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    bounds = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    )
    spine = (
        bounds.select(
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 day"))
            ).alias("day")
        )
        .crossJoin(orders.select("o_orderstatus").distinct())
    )
    return (
        spine.join(daily, ["o_orderstatus", "day"], "left")
        .select(
            "o_orderstatus",
            "day",
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
        .orderBy("o_orderstatus", "day")
    )


DENSIFY_DAILY_SQL = """
WITH daily AS (
  SELECT o_orderstatus, CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         count(*) AS n_orders
  FROM orders
  GROUP BY 1, 2
),
bounds AS (
  SELECT min(CAST(o_orderdate AS DATE)) AS lo,
         max(CAST(o_orderdate AS DATE)) AS hi
  FROM orders
),
spine AS (
  SELECT s.o_orderstatus, CAST(g.day AS DATE) AS day
  FROM (SELECT DISTINCT o_orderstatus FROM orders) s
  CROSS JOIN (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
  ) g
)
SELECT sp.o_orderstatus, sp.day,
       coalesce(d.revenue, 0.0) AS revenue,
       coalesce(d.n_orders, 0) AS n_orders
FROM spine sp
LEFT JOIN daily d ON sp.o_orderstatus = d.o_orderstatus AND sp.day = d.day
ORDER BY sp.o_orderstatus, sp.day
"""


N_PRICE_BINS = 20


def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order prices: bin bounds from the table's
    own [min, max] (a 1-row aggregate crossed back onto the scan), then
    one count per bin — the single-pass-plus-scalar shape every
    profiler/visualizer needs. Bin edges are computed identically on both
    engines from the same min/max doubles; the top edge folds into the
    last bin (standard half-open bins, closed at the top).

    Scale: scalar bounds broadcast; the binning is pure arithmetic in the
    scan projection and the aggregate is N_PRICE_BINS partial rows per
    partition."""
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    from pyspark.sql.functions import broadcast as _bc

    width = (F.col("hi") - F.col("lo")) / N_PRICE_BINS
    binned = orders.crossJoin(_bc(bounds)).select(
        F.least(
            F.floor((F.col("o_totalprice") - F.col("lo")) / width),
            F.lit(N_PRICE_BINS - 1),
        )
        .cast("integer")
        .alias("bin")
    )
    return (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("bin")
    )


PRICE_HISTOGRAM_SQL = f"""
WITH bounds AS (
  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
)
SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / {N_PRICE_BINS})),
                  {N_PRICE_BINS - 1}) AS INTEGER) AS bin,
       count(*) AS n_orders
FROM orders CROSS JOIN bounds
GROUP BY 1
ORDER BY 1
"""


BAD_RECORD_MOD = 13


def csv_bad_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on ingest: orders staged as CSV with a
    deterministic corruption (keys ≡ 0 mod BAD_RECORD_MOD get a
    non-numeric price), read back in PERMISSIVE mode with a
    _corrupt_record column — the production ingest contract where bad
    rows are quarantined and counted, never silently dropped and never
    failing the job. Output: per-status counts of good vs quarantined
    rows and revenue over good rows only.

    Scale: PERMISSIVE parsing is per-row and partition-local (no extra
    pass); the quarantine column is NULL for good rows so it compresses
    to nothing downstream. FAILFAST is the right mode only when upstream
    is contractually clean."""
    from ..staging import staging_dir

    stage = staging_dir("orders_badcsv_")
    orders = load_table(spark, sf_dir, "orders")
    price_or_junk = F.when(
        F.col("o_orderkey") % BAD_RECORD_MOD == 0, F.lit("not-a-price")
    ).otherwise(F.col("o_totalprice").cast("string"))
    orders.select(
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        price_or_junk.alias("o_totalprice"),
    ).write.mode("overwrite").option("header", True).csv(stage)
    back = (
        spark.read.schema(
            "o_orderkey bigint, o_orderstatus string, o_totalprice double, "
            "_corrupt_record string"
        )
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(stage)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.sum(F.col("_corrupt_record").isNull().cast("long")).alias(
                "n_good"
            ),
            F.sum(F.col("_corrupt_record").isNotNull().cast("long")).alias(
                "n_quarantined"
            ),
            F.sum(
                F.when(
                    F.col("_corrupt_record").isNull(), F.col("o_totalprice")
                ).cast("decimal(18,2)")
            )
            .cast("double")
            .alias("good_revenue"),
        )
        .orderBy("o_orderstatus")
    )


CSV_BAD_RECORDS_SQL = f"""
SELECT o_orderstatus,
       CAST(sum(CASE WHEN o_orderkey % {BAD_RECORD_MOD} <> 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_good,
       CAST(sum(CASE WHEN o_orderkey % {BAD_RECORD_MOD} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_quarantined,
       CAST(sum(CASE WHEN o_orderkey % {BAD_RECORD_MOD} <> 0
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
            AS DOUBLE) AS good_revenue
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against the SCD2 dimension: each event is
    enriched with the customer's order-priority regime VALID AT the
    event's timestamp — the query an SCD2 table exists to answer.
    Declaratively this is an inequality join (valid_from ≤ ts < valid_to);
    the scale implementation is the as-of composition: union the version
    starts with the events on a (key, time) order and carry the latest
    version forward with a window — one shuffle on the key, O(1) state
    per row, versus the O(versions × events) inequality join. Version
    intervals are contiguous per key (valid_to = next valid_from), so
    carry-forward and the interval predicate agree exactly; events before
    a customer's first version get NULLs.

    Output: (event_id, user_id, regime, regime_since_us) — the enriched
    fact a training pipeline or feature store would materialize."""
    hist = scd2_priority_history(spark, sf_dir).select(
        F.col("o_custkey").alias("user_id"),
        F.col("valid_from_us").alias("t_us"),
        F.col("o_orderpriority").alias("regime"),
        F.lit(0).alias("kind"),
        F.col("island"),
        F.lit(None).cast("long").alias("event_id"),
    )
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.lit(None).cast("string").alias("regime"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("island"),
        "event_id",
    )
    # Tie handling: two versions can START at the same timestamp (two
    # orders on one date) — the earlier island is then an EMPTY interval
    # [t, t) which the oracle's valid_from <= ts < valid_to predicate
    # never matches. Ordering ties by island makes the carry-forward pick
    # the later (non-empty) version deterministically; events (kind=1,
    # island NULL) still sort after all same-timestamp version starts.
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "kind", F.col("island").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = hist.unionByName(ev).select(
        "event_id",
        "user_id",
        "kind",
        F.last("regime", ignorenulls=True).over(w).alias("regime"),
        F.last(
            F.when(F.col("kind") == 0, F.col("t_us")), ignorenulls=True
        )
        .over(w)
        .alias("regime_since_us"),
    )
    return (
        merged.where(F.col("kind") == 1)
        .select("event_id", "user_id", "regime", "regime_since_us")
        .orderBy("event_id")
    )


SCD2_PIT_SQL = f"""
WITH hist AS ({SCD2_SQL.replace("ORDER BY o_custkey, island", "")}),
ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
SELECT e.event_id, e.user_id, h.o_orderpriority AS regime,
       h.valid_from_us AS regime_since_us
FROM ev e
LEFT JOIN hist h
  ON h.o_custkey = e.user_id
 AND h.valid_from_us <= e.ts_us
 AND (h.valid_to_us IS NULL OR e.ts_us < h.valid_to_us)
ORDER BY e.event_id
"""


@memoized_plan
def hll_monthly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: per-DAY HLL register states of
    active users, union-merged up to months with NO access to the raw
    data — the property that makes sketch tables a 100 TB staple (compute
    once per partition/day at ingest, merge for any coarser rollup later;
    exact distinct would need the raw user ids again). The merge IS
    max(rho) per register — associative and idempotent, so the monthly
    state from merged daily sketches is identical to one built from raw
    events.

    Built on the engine's deterministic HLL (functions/hll.py) instead of
    the engine-specific Datasketches binaries, so the driver value-hash
    checks the estimates exactly; the estimate's relative error vs exact
    distinct is additionally asserted in tests."""
    from ..functions import hll as H

    ev = load_table(spark, sf_dir, "events")
    reg, rho = H.hll_register_cols("user_id")
    daily = (
        ev.select(F.to_date("ts").alias("day"), reg.alias("reg"), rho.alias("rho"))
        .groupBy("day", "reg")
        .agg(F.max("rho").alias("maxrho"))
    )
    monthly_state = (
        daily.groupBy(
            F.year("day").cast("int").alias("yr"),
            F.month("day").cast("int").alias("mo"),
            "reg",
        )
        .agg(F.max("maxrho").alias("maxrho"))
    )
    n_days = (
        daily.select("day")
        .distinct()
        .groupBy(
            F.year("day").cast("int").alias("yr"),
            F.month("day").cast("int").alias("mo"),
        )
        .agg(F.count(F.lit(1)).alias("n_days"))
    )
    return (
        H.hll_group_estimate(monthly_state, ["yr", "mo"], spark)
        .join(F.broadcast(n_days), ["yr", "mo"])
        .select("yr", "mo", F.col("approx").alias("approx_users"), "n_days")
        .orderBy("yr", "mo")
    )


def _hll_monthly_users_sql() -> str:
    from ..functions import hll as H

    return f"""
WITH lc AS {H.lc_table_cte()},
state AS ({H.hll_state_sql(
        "(SELECT CAST(year(ts) AS INT) AS yr, CAST(month(ts) AS INT) AS mo,"
        " user_id FROM events)",
        "user_id",
        "yr, mo",
    )}),
nd AS (
  SELECT CAST(year(ts) AS INT) AS yr, CAST(month(ts) AS INT) AS mo,
         count(DISTINCT CAST(ts AS DATE)) AS n_days
  FROM events GROUP BY 1, 2
)
SELECT e.yr AS yr, e.mo AS mo, e.approx AS approx_users, nd.n_days AS n_days
FROM ({H.hll_estimate_sql("yr, mo")}) e
JOIN nd ON nd.yr = e.yr AND nd.mo = e.mo
ORDER BY yr, mo
"""


HLL_MONTHLY_USERS_SQL = _hll_monthly_users_sql()


def xml_source_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source roundtrip (built-in since Spark 4): customers staged as
    <row> elements, read back with an EXPLICIT schema (inference is an
    extra full scan — same discipline as the CSV path), aggregated per
    segment. Completes the format matrix: parquet / text / CSV / JSON /
    ORC / XML / binaryFile / custom DataSource.

    (Avro is Spark-external in this container — no jar, no pip — so the
    format matrix documents it as the one absent built-in.)"""
    from ..staging import staging_dir

    stage = staging_dir("customer_xml_")
    cust = load_table(spark, sf_dir, "customer")
    cust.select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal").write.mode(
        "overwrite"
    ).format("xml").option("rowTag", "row").save(stage)
    back = (
        spark.read.schema(
            "c_custkey bigint, c_nationkey bigint, c_mktsegment string, "
            "c_acctbal double"
        )
        .format("xml")
        .option("rowTag", "row")
        .load(stage)
    )
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


XML_SOURCE_SQL = """
SELECT c_mktsegment, count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def recursive_order_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-level recursion (WITH RECURSIVE — new in Spark 4): each
    customer's orders form a linked chain (prev pointer = lag over order
    date), and the recursive member walks it, numbering the sequence and
    accumulating spend in exact DECIMAL — the iterate-until-exhausted
    surface INSIDE the SQL engine, complementing the driver-loop
    iteration the CC family uses. The chain is acyclic and bounded by
    orders-per-customer, so UNION ALL recursion (Spark's supported form;
    UNION-distinct recursion is not yet in) terminates naturally well
    under spark.sql.cteRecursionLevelLimit.

    The oracle runs the IDENTICAL recursive SQL on DuckDB — the first
    query family where both engines execute the same recursion."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # Materialize the edge view ONCE before recursing: every recursion
    # level joins this view, and without the checkpoint each level
    # re-executes the lag window behind it (depth ≈ max orders per
    # customer). Measured A/B at sf0.1: 8.0 → 4.2 s, identical output —
    # the production shape anyway (you recurse over a materialized edge
    # table, not a live window).
    edges = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_orderkey").over(w).alias("prev_key"),
    ).localCheckpoint()
    edges.createOrReplaceTempView("rec_chain_edges_v")
    return spark.sql(
        """
        WITH RECURSIVE chain(o_custkey, o_orderkey, seq, cum) AS (
          SELECT o_custkey, o_orderkey, 1,
                 CAST(o_totalprice AS DECIMAL(18,2))
          FROM rec_chain_edges_v WHERE prev_key IS NULL
          UNION ALL
          SELECT e.o_custkey, e.o_orderkey, c.seq + 1,
                 CAST(c.cum + CAST(e.o_totalprice AS DECIMAL(18,2))
                      AS DECIMAL(18,2))
          FROM chain c
          JOIN rec_chain_edges_v e
            ON e.prev_key = c.o_orderkey AND e.o_custkey = c.o_custkey
        )
        SELECT o_custkey, o_orderkey, seq,
               CAST(cum AS DOUBLE) AS cum_spend
        FROM chain
        ORDER BY o_custkey, seq
        """
    )


RECURSIVE_CHAIN_SQL = """
WITH RECURSIVE edges AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         lag(o_orderkey) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS prev_key
  FROM orders
),
chain(o_custkey, o_orderkey, seq, cum) AS (
  SELECT o_custkey, o_orderkey, 1, CAST(o_totalprice AS DECIMAL(18,2))
  FROM edges WHERE prev_key IS NULL
  UNION ALL
  SELECT e.o_custkey, e.o_orderkey, c.seq + 1,
         CAST(c.cum + CAST(e.o_totalprice AS DECIMAL(18,2))
              AS DECIMAL(18,2))
  FROM chain c
  JOIN edges e ON e.prev_key = c.o_orderkey AND e.o_custkey = c.o_custkey
)
SELECT o_custkey, o_orderkey, seq, CAST(cum AS DOUBLE) AS cum_spend
FROM chain
ORDER BY o_custkey, seq
"""


def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured data through the VARIANT type (new in Spark 4):
    props parsed ONCE into a variant column, then typed path access with
    try_variant_get — the columnar successor to per-path get_json_object
    string re-parsing (json_props_extract is the old-style twin; at scale
    variant parse cost is paid once per row, not once per extracted
    path, and the binary encoding prunes like any other column). Output
    matches the string-path twin, so the same SQL oracle shape applies."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(F.parse_json("props").alias("v"), "value")
    k = F.try_variant_get("v", "$.k", "long")
    return (
        v.select(k.alias("k"), "value")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("k")
    )


VARIANT_PROPS_SQL = """
SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY k
ORDER BY k
"""


# ---------------------------------------------------------------------------
# Iterative graph analytics: PageRank in exact fixed-point arithmetic
# ---------------------------------------------------------------------------

PR_ITERATIONS = 5
PR_SCALE = 10**12  # ranks carried as integers scaled by 1e12


def _pagerank_iterate(
    nodes: DataFrame, edges: DataFrame, n_iterations: int
) -> DataFrame:
    """Generic fixed-point PageRank loop (damping 0.85): ``nodes`` has one
    ``node`` column, ``edges`` has (src, dst). Iterative float PageRank
    cannot be hash-checked across engines (sum order varies), so ranks are
    integers scaled by PR_SCALE and every step is integer arithmetic —
    floor division for the per-edge contribution (rank DIV out-degree), the
    dangling redistribution (dangling_sum DIV N), and the damping
    ((85 * x) DIV 100) — exact, order-independent, identical in Spark and
    DuckDB. Dangling mass is redistributed uniformly, so total mass is
    conserved up to floor losses.

    This is the Pregel shape: the edge table is hash-partitioned by src
    once; every iteration is one join of the rank table onto it plus one
    dst aggregation — both on 8-byte keys. The per-iteration
    localCheckpoint keeps lineage linear (the CC operator's pattern).
    """
    # Materialize the loop invariants once: outdeg is referenced twice per
    # iteration (contrib join + dangling anti-join) and nodes once, so
    # without this each iteration re-runs the edge aggregation and the
    # source scan behind nodes. Measured and rejected (r7): pre-joining
    # outdeg onto the edge table and precomputing a dangling flag on the
    # node/rank state — 3.6 s vs 3.4 s median-of-5 at sf0.1, both A/B
    # orders; the per-iteration outdeg broadcast join is already free and
    # the wider checkpointed state costs more than the anti-join saves.
    # Also measured and rejected (r8): pre-hash-partitioning edges/nodes
    # on the join key (3.52 s) and shuffle_hash hints on the aligned
    # sides (3.37 s) vs 3.33 s current, same-session medians-of-3 — the
    # rank-side joins already resolve to broadcasts under AQE, so
    # partitioning alignment buys nothing; the wall time is the
    # 5-iteration latency chain of checkpoint materializations, which
    # amortizes at real scale where per-iteration data work dominates.
    # Third rejection (r8, same session): checkpoint every 2 iterations
    # (2.79 s) or only at the end (3.16 s) vs every iteration (3.01 and
    # 2.47 s in back-to-back medians-of-5) — differences are inside the
    # session's own drift, and the per-iteration checkpoint keeps the
    # safest lineage (ranks is referenced twice per round). Identical
    # output verified for all cadences.
    outdeg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint()
    )
    nodes = nodes.localCheckpoint()
    n_nodes = nodes.count()
    base = PR_SCALE // n_nodes
    teleport = (15 * base) // 100
    ranks = nodes.select("node", F.lit(base).cast("long").alias("rank_scaled"))

    for _ in range(n_iterations):
        contrib = (
            ranks.join(edges, ranks.node == edges.src)
            .join(outdeg, "src")
            .select("dst", F.expr("rank_scaled DIV outdeg").alias("contrib"))
        )
        incoming = contrib.groupBy("dst").agg(F.sum("contrib").alias("in_sum"))
        dangling = (
            ranks.join(outdeg, ranks.node == outdeg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank_scaled"), F.lit(0)).alias("dang"))
        )
        ranks = (
            nodes.join(incoming, nodes.node == incoming.dst, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"85 * (coalesce(in_sum, 0) + dang DIV {n_nodes})"
                        " DIV 100"
                    )
                )
                .cast("long")
                .alias("rank_scaled"),
            )
            .localCheckpoint()
        )
    return ranks


def pagerank_order_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the per-customer order-succession graph: each order
    points to the customer's previous order (the recursive_order_chain
    walk, as a graph), so rank accumulates toward chain heads with depth —
    a node set that scales with the data, unlike a fixed dimension graph.

    Edge extraction is one lag window per customer (single keyed exchange);
    heads are dangling and their mass is redistributed. See
    _pagerank_iterate for the exact-arithmetic iteration scheme.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    edges = (
        orders.select(
            F.col("o_orderkey").alias("src"),
            F.lag("o_orderkey", 1).over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .localCheckpoint()
    )
    nodes = orders.select(F.col("o_orderkey").alias("node"))
    ranks = _pagerank_iterate(nodes, edges, PR_ITERATIONS)
    return ranks.select(
        F.col("node").alias("o_orderkey"),
        "rank_scaled",
        (F.col("rank_scaled") / F.lit(float(PR_SCALE))).alias("rank"),
    ).orderBy(F.desc("rank_scaled"), F.asc("o_orderkey"))


def _pagerank_stage_sql(i: int) -> str:
    return f"""
incoming{i} AS (
  SELECT e.dst, CAST(sum(r.rank_scaled // o.outdeg) AS BIGINT) AS in_sum
  FROM ranks{i} r
  JOIN edges e ON r.node = e.src
  JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst
),
dang{i} AS (
  SELECT CAST(coalesce(sum(r.rank_scaled), 0) AS BIGINT) AS dang
  FROM ranks{i} r LEFT JOIN outdeg o ON r.node = o.src
  WHERE o.src IS NULL
),
ranks{i + 1} AS (
  SELECT n.node,
         CAST((SELECT teleport FROM consts)
              + 85 * (coalesce(i.in_sum, 0)
                      + (SELECT dang FROM dang{i})
                        // (SELECT n_nodes FROM consts)) // 100
              AS BIGINT) AS rank_scaled
  FROM (SELECT node FROM ranks0) n
  LEFT JOIN incoming{i} i ON n.node = i.dst
)"""


PAGERANK_SQL = (
    f"""
WITH ordered AS (
  SELECT o_orderkey,
         lag(o_orderkey) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
),
edges AS (
  SELECT o_orderkey AS src, prev AS dst FROM ordered WHERE prev IS NOT NULL
),
outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
consts AS (
  SELECT count(*) AS n_nodes,
         {PR_SCALE} // count(*) AS base,
         (15 * ({PR_SCALE} // count(*))) // 100 AS teleport
  FROM orders
),
ranks0 AS (
  SELECT o_orderkey AS node,
         CAST((SELECT base FROM consts) AS BIGINT) AS rank_scaled
  FROM orders
),"""
    + ",".join(_pagerank_stage_sql(i) for i in range(PR_ITERATIONS))
    + f"""
SELECT r.node AS o_orderkey, r.rank_scaled,
       r.rank_scaled / {float(PR_SCALE)} AS rank
FROM ranks{PR_ITERATIONS} r
ORDER BY r.rank_scaled DESC, r.node ASC
"""
)


# ---------------------------------------------------------------------------
# Market-basket analysis: frequent co-purchased pairs
# ---------------------------------------------------------------------------

BASKET_TOP_K = 20


def co_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BASKET_TOP_K most frequent co-purchased part-brand pairs across
    orders (frequent-itemset mining at k=2, the building block of
    association rules).

    The pair explosion is a per-order self-join on l_orderkey with the
    brand inequality halving the square: cost is Σ(basket_size²)/2, bounded
    by the max lines-per-order (single digits in order data), NOT corpus² —
    the same bounded-fanout argument as the dedup candidate joins. The
    distinct() before pairing collapses duplicate brands within an order so
    a pair counts once per order (support semantics). One agg on the pair
    key, then TakeOrdered for the top-k.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    basket = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a, b = basket.alias("a"), basket.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .select(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
    )
    return (
        pairs.groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("brand_a"), F.asc("brand_b"))
        .limit(BASKET_TOP_K)
    )


CO_PURCHASE_SQL = f"""
WITH basket AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
       CAST(count(*) AS BIGINT) AS n_orders
FROM basket a JOIN basket b
  ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
GROUP BY 1, 2
ORDER BY n_orders DESC, brand_a ASC, brand_b ASC
LIMIT {BASKET_TOP_K}
"""


# ---------------------------------------------------------------------------
# Triangle counting (graph analytics on equi-joins only)
# ---------------------------------------------------------------------------

def triangle_count_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle participation in the undirected nation trade
    graph (edge: a supplier nation shipped to a customer nation), plus the
    classic two-join triangle enumeration.

    The standard distributed formulation: canonicalize edges to a < b,
    enumerate wedges by joining edges on the shared middle vertex, close
    each wedge with a third equi-join — no vertex ever sees more than its
    neighborhood, and the a < b < c ordering counts each triangle exactly
    once. Skew lever at scale: orient wedges by degree (low-degree vertex
    as the join key) so hub vertices don't quadratically explode — noted,
    not needed at 25 nations.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")

    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .select(
            F.least("s_nationkey", "c_nationkey").alias("a"),
            F.greatest("s_nationkey", "c_nationkey").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    triangles = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    per_node = (
        triangles.select(F.explode(F.array("x", "y", "z")).alias("n_nationkey"))
        .groupBy("n_nationkey")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        nation.join(per_node, "n_nationkey", "left")
        .select(
            "n_name",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        )
        .orderBy("n_name")
    )


TRIANGLE_COUNT_SQL = """
WITH edges AS (
  SELECT DISTINCT least(s.s_nationkey, c.c_nationkey) AS a,
                  greatest(s.s_nationkey, c.c_nationkey) AS b
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE s.s_nationkey <> c.c_nationkey
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM edges e1
  JOIN edges e2 ON e1.b = e2.a
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
per_node AS (
  SELECT node AS n_nationkey, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (
    SELECT unnest([x, y, z]) AS node FROM tri
  )
  GROUP BY node
)
SELECT n.n_name, coalesce(p.n_triangles, 0) AS n_triangles
FROM nation n LEFT JOIN per_node p USING (n_nationkey)
ORDER BY n.n_name
"""


def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules a→b over the brand baskets: support counts,
    directional confidence, and lift for every co-purchased pair with
    support ≥ 2 orders.

    Exactness discipline: confidence and lift are each ONE IEEE double
    division of exact integer counts (lift's numerator n_ab·N and
    denominator n_a·n_b are computed in int64 first), so both engines
    round identically — no accumulated float arithmetic anywhere. Same
    bounded pair explosion as co_purchase_pairs; the singles table is
    |brands| rows and broadcasts back onto the pairs.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    basket = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders_tbl = basket.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders_total")
    )
    singles = basket.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_single"))
    a, b = basket.alias("a"), basket.alias("b")
    pair_counts = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= 2)
    )
    sa = singles.select(
        F.col("p_brand").alias("brand_a"), F.col("n_single").alias("n_a")
    )
    sb = singles.select(
        F.col("p_brand").alias("brand_b"), F.col("n_single").alias("n_b")
    )
    return (
        pair_counts.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n_orders_tbl))
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            "n_a",
            "n_b",
            (F.col("n_both").cast("double") / F.col("n_a")).alias("conf_a_to_b"),
            (F.col("n_both").cast("double") / F.col("n_b")).alias("conf_b_to_a"),
            (
                (F.col("n_both") * F.col("n_orders_total")).cast("double")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
        .orderBy("brand_a", "brand_b")
    )


ASSOCIATION_RULES_SQL = """
WITH basket AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders_total
      FROM basket),
singles AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_single
  FROM basket GROUP BY p_brand
),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT p.brand_a, p.brand_b, p.n_both,
       sa.n_single AS n_a, sb.n_single AS n_b,
       CAST(p.n_both AS DOUBLE) / sa.n_single AS conf_a_to_b,
       CAST(p.n_both AS DOUBLE) / sb.n_single AS conf_b_to_a,
       CAST(p.n_both * (SELECT n_orders_total FROM n) AS DOUBLE)
         / (sa.n_single * sb.n_single) AS lift
FROM pairs p
JOIN singles sa ON p.brand_a = sa.p_brand
JOIN singles sb ON p.brand_b = sb.p_brand
ORDER BY p.brand_a, p.brand_b
"""


# ---------------------------------------------------------------------------
# Referential integrity audit (constraint checking as a query)
# ---------------------------------------------------------------------------

def referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-count audit of every foreign-key edge in the star schema:
    rows on the fact side whose key has no match in the dimension. The
    constraint-checking companion to table_profile_orders (null/distinct
    profiling) and table_checksum (content drift): run after ingest, expect
    all zeros, alert otherwise.

    Each edge is one LEFT ANTI join — at scale the dimension side
    broadcasts (or the join runs on the same co-location the query would
    use anyway) and the audit touches only the key columns, so the scans
    are column-pruned to 8 bytes per row. The counts union into one tiny
    result so a scheduler can gate on a single query.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    def orphans(fact, fk, dim, pk, edge):
        n = (
            fact.select(F.col(fk))
            .join(dim.select(F.col(pk)), fact[fk] == dim[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        return n.select(F.lit(edge).alias("fk_edge"), "n_orphans")

    checks = [
        orphans(li, "l_orderkey", orders, "o_orderkey", "lineitem.l_orderkey -> orders"),
        orphans(li, "l_partkey", part, "p_partkey", "lineitem.l_partkey -> part"),
        orphans(li, "l_suppkey", supp, "s_suppkey", "lineitem.l_suppkey -> supplier"),
        orphans(orders, "o_custkey", cust, "c_custkey", "orders.o_custkey -> customer"),
        orphans(cust, "c_nationkey", nation, "n_nationkey", "customer.c_nationkey -> nation"),
        orphans(supp, "s_nationkey", nation, "n_nationkey", "supplier.s_nationkey -> nation"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("fk_edge")


REFERENTIAL_AUDIT_SQL = """
SELECT 'lineitem.l_orderkey -> orders' AS fk_edge,
       CAST(count(*) AS BIGINT) AS n_orphans
FROM lineitem l WHERE NOT EXISTS
  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'lineitem.l_partkey -> part',
       CAST(count(*) AS BIGINT)
FROM lineitem l WHERE NOT EXISTS
  (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
UNION ALL
SELECT 'lineitem.l_suppkey -> supplier',
       CAST(count(*) AS BIGINT)
FROM lineitem l WHERE NOT EXISTS
  (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
UNION ALL
SELECT 'orders.o_custkey -> customer',
       CAST(count(*) AS BIGINT)
FROM orders o WHERE NOT EXISTS
  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'customer.c_nationkey -> nation',
       CAST(count(*) AS BIGINT)
FROM customer c WHERE NOT EXISTS
  (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
UNION ALL
SELECT 'supplier.s_nationkey -> nation',
       CAST(count(*) AS BIGINT)
FROM supplier s WHERE NOT EXISTS
  (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)
ORDER BY fk_edge
"""


def balance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions per nation: each customer's
    percent_rank and cume_dist over account balance — the relative-standing
    analytics ntile buckets can't express (exact position, not bucket).

    Both are ANSI-defined rationals of rank/count integers — one IEEE
    division each, identical across engines even under balance ties (ties
    share a rank, no tie-break needed for the value). One exchange on
    n_nationkey, the same key every window here uses.
    """
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal")
    return (
        cust.select(
            "c_custkey",
            "c_nationkey",
            "c_acctbal",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume_dist"),
        )
        .orderBy("c_custkey")
    )


BALANCE_DISTRIBUTION_SQL = """
SELECT c_custkey, c_nationkey, c_acctbal,
       percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal)
         AS pct_rank,
       cume_dist() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal)
         AS cume_dist
FROM customer
ORDER BY c_custkey
"""


def priority_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts and probabilities between
    consecutive order priorities per customer — the sequence-mining
    companion to the gaps-and-islands/funnel family: one lag window on the
    per-customer order timeline, one pair aggregation, and a row-normalized
    probability (single IEEE division of exact counts, identical across
    engines).

    Scale: the lag runs on the same o_custkey exchange every sequence
    operator here uses; the transition matrix is |priorities|² rows —
    constant-size output whatever the order volume.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_custkey",
        F.col("o_orderpriority").alias("to_priority"),
        F.lag("o_orderpriority", 1).over(w).alias("from_priority"),
    ).where(F.col("from_priority").isNotNull())
    counts = seq.groupBy("from_priority", "to_priority").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_totals = counts.groupBy("from_priority").agg(
        F.sum("n").alias("row_total")
    )
    return (
        counts.join(F.broadcast(row_totals), "from_priority")
        .select(
            "from_priority",
            "to_priority",
            "n",
            (F.col("n").cast("double") / F.col("row_total")).alias("p"),
        )
        .orderBy("from_priority", "to_priority")
    )


PRIORITY_TRANSITION_SQL = """
WITH seq AS (
  SELECT o_custkey,
         o_orderpriority AS to_priority,
         lag(o_orderpriority) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey)
           AS from_priority
  FROM orders
),
counts AS (
  SELECT from_priority, to_priority, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE from_priority IS NOT NULL
  GROUP BY 1, 2
),
totals AS (
  SELECT from_priority, CAST(sum(n) AS BIGINT) AS row_total
  FROM counts GROUP BY from_priority
)
SELECT c.from_priority, c.to_priority, c.n,
       CAST(c.n AS DOUBLE) / t.row_total AS p
FROM counts c JOIN totals t USING (from_priority)
ORDER BY c.from_priority, c.to_priority
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention over events: users grouped by first-active
    day, then for each subsequent day the fraction of the cohort still
    active — the canonical product-analytics matrix (daily grain because
    the events table spans one month).

    Days are carried as the integer epoch-day key
    (unix_micros // 86_400_000_000), so cohort assignment, day offsets, and
    the retention ratio (one IEEE division of exact distinct counts) are
    identical across engines — no timestamp arithmetic or rendering in the
    output at all.

    Scale: two aggregations on user_id (first day, distinct activity) —
    the same key, one exchange each with map-side partials — then a
    cohort-key agg whose cardinality is days². The cohort-size join is a
    broadcast of a days-sized table.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) DIV 86400000000").alias("day")
    activity = ev.select("user_id", day).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    joined = activity.join(cohorts, "user_id").select(
        "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_index")
    )
    # activity is already (user, day)-distinct, so a plain count here IS
    # the distinct-user count per cell.
    counts = joined.groupBy("cohort_day", "day_index").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    sizes = counts.where(F.col("day_index") == 0).select(
        "cohort_day", F.col("n_active").alias("cohort_size")
    )
    return (
        counts.join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            "day_index",
            "n_active",
            "cohort_size",
            (F.col("n_active").cast("double") / F.col("cohort_size")).alias(
                "retention"
            ),
        )
        .orderBy("cohort_day", "day_index")
    )


COHORT_RETENTION_SQL = """
WITH activity AS (
  SELECT DISTINCT user_id,
         epoch_us(ts) // 86400000000 AS day
  FROM events
),
cohorts AS (
  SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id
),
counts AS (
  SELECT c.cohort_day, a.day - c.cohort_day AS day_index,
         CAST(count(*) AS BIGINT) AS n_active
  FROM activity a JOIN cohorts c USING (user_id)
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_day, n_active AS cohort_size
  FROM counts WHERE day_index = 0
)
SELECT co.cohort_day, co.day_index, co.n_active, s.cohort_size,
       CAST(co.n_active AS DOUBLE) / s.cohort_size AS retention
FROM counts co JOIN sizes s USING (cohort_day)
ORDER BY co.cohort_day, co.day_index
"""


RFM_BUCKETS = 5


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order, anchored
    to the dataset's max order date so the metric is data-derived and
    reproducible), frequency (order count), monetary (decimal-accumulated
    spend), each scored into RFM_BUCKETS ntile bands.

    Exactness: recency is integer epoch-day arithmetic, derived
    timezone-free (``unix_date`` on the DATE part — never an ntz→ltz cast,
    so no dependence on the session zone); monetary uses decimal
    accumulation cast to double at the end (order-independent); every band
    orders by (metric, custkey) so boundaries are tie-broken identically
    in both engines.

    Scale: each score is a DISTRIBUTED ntile
    (operators/ranking.with_distributed_ntile) — range-partitioned sort +
    per-partition local index + broadcast prefix offsets — so the plan has
    no partition-less window / single-task global sort anywhere; the three
    bandings run on the aggregated |customers| table, each as a P-way
    parallel sort (asserted in tests/test_plan_shapes.py).
    """
    from ..operators.ranking import with_distributed_ntile

    orders = load_table(spark, sf_dir, "orders")
    day = F.expr("unix_date(CAST(o_orderdate AS DATE))").cast("long")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(day).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    anchor = orders.agg(F.max(day).alias("anchor_day"))
    base = per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        (F.col("anchor_day") - F.col("last_day")).alias("recency_days"),
        "frequency",
        "monetary",
    )
    scored = with_distributed_ntile(
        base,
        [F.asc("recency_days"), F.asc("o_custkey")],
        RFM_BUCKETS,
        "r_score",
    )
    scored = with_distributed_ntile(
        scored,
        [F.desc("frequency"), F.asc("o_custkey")],
        RFM_BUCKETS,
        "f_score",
    )
    scored = with_distributed_ntile(
        scored,
        [F.desc("monetary"), F.asc("o_custkey")],
        RFM_BUCKETS,
        "m_score",
    )
    return scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
    ).orderBy("o_custkey")


RFM_SEGMENTATION_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey,
         max(epoch_us(o_orderdate) // 86400000000) AS last_day,
         count(*) AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders
  GROUP BY o_custkey
),
anchor AS (
  SELECT max(epoch_us(o_orderdate) // 86400000000) AS anchor_day FROM orders
)
SELECT p.o_custkey,
       CAST(a.anchor_day - p.last_day AS BIGINT) AS recency_days,
       p.frequency,
       p.monetary,
       ntile({RFM_BUCKETS}) OVER (ORDER BY a.anchor_day - p.last_day ASC,
                                  p.o_custkey ASC) AS r_score,
       ntile({RFM_BUCKETS}) OVER (ORDER BY p.frequency DESC,
                                  p.o_custkey ASC) AS f_score,
       ntile({RFM_BUCKETS}) OVER (ORDER BY p.monetary DESC,
                                  p.o_custkey ASC) AS m_score
FROM per_cust p CROSS JOIN anchor a
ORDER BY p.o_custkey
"""


# ---------------------------------------------------------------------------
# Key-skew profile: the diagnostic that decides when the salting path fires
# ---------------------------------------------------------------------------

SKEW_TOP_KEYS = 10


def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-key diagnostics over lineitem's supplier key: the top-10 keys
    by row count, each with its share of all rows and its ratio to the
    mean per-key count. This is the profiling step that decides whether a
    join/agg needs the skew treatment (salting, AQE skew-join) the engine
    already implements in salted_supplier_revenue — made first-class so a
    pipeline can gate on it.

    All statistics derive from integer counts (share/skew are single
    divisions of int64 aggregates, rounded at the end), so the oracle is
    exact. Plan: one 8-byte-key agg, a broadcast 1-row totals join, and a
    TakeOrdered top-k — nothing scales with anything but |keys|.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "l_suppkey",
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
            F.round(
                F.col("cnt") * F.col("n_keys") / F.col("total"), 6
            ).alias("skew_ratio"),
        )
        .orderBy(F.desc("cnt"), F.asc("l_suppkey"))
        .limit(SKEW_TOP_KEYS)
    )


KEY_SKEW_SQL = f"""
WITH counts AS (
  SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY l_suppkey
),
totals AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total,
         count(*) AS n_keys
  FROM counts
)
SELECT l_suppkey, cnt,
       round(CAST(cnt AS DOUBLE) / total, 6) AS share,
       round(CAST(cnt AS DOUBLE) * n_keys / total, 6) AS skew_ratio
FROM counts CROSS JOIN totals
ORDER BY cnt DESC, l_suppkey ASC
LIMIT {SKEW_TOP_KEYS}
"""


# ---------------------------------------------------------------------------
# Observed data-quality gate (DataFrame.observe / CollectMetrics)
# ---------------------------------------------------------------------------

def observed_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality metrics collected WITH ``DataFrame.observe`` — the
    production pattern for pipeline gates: metrics ride along the normal
    job as a CollectMetrics node (one pass, no second scan), and the
    pipeline aborts/alerts on the observed values before publishing. Here
    the observed job is a representative downstream consumption of the
    orders scan; the returned row is the gate's metric record.

    Metrics: row count, decimal-exact revenue total, null-key count, and
    the out-of-domain status count (rows whose o_orderstatus is not a
    known code) — the classic completeness/validity checks.

    Scale: observe() adds zero extra scans — the metrics are partial
    aggregates merged on the driver, cost O(P) rows. The returned
    DataFrame is the one metric row.
    """
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("dq")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue_total"),
        F.sum(
            F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
        ).alias("null_custkey"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(
                0
            )
        ).alias("bad_status"),
    )
    # The gated job: any action over the observed frame fills the metrics.
    observed.groupBy("o_orderstatus").count().collect()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                float(m["revenue_total"]),
                int(m["null_custkey"]),
                int(m["bad_status"]),
            )
        ],
        "n_rows long, revenue_total double, null_custkey long, "
        "bad_status long",
    )


OBSERVED_GATE_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS revenue_total,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_custkey,
       CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0
                END) AS BIGINT) AS bad_status
FROM orders
"""


# ---------------------------------------------------------------------------
# Runtime bloom-filter join pruning (InjectRuntimeFilter)
# ---------------------------------------------------------------------------

def _runtime_filtered_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy join+agg plan runtime_filtered_join executes under its
    conf guard (split out so tests can assert the executed plan)."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(
        orders.hint("merge"),
        li["l_orderkey"] == orders["o_orderkey"],
    )
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


_RTF_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # production gate is 10 GB of application-side scan — correct at
    # scale, unreachable at test SF, so the demo lowers it
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold": "0",
    # the filtered dim fits under the broadcast threshold locally, and a
    # size-broadcastable creation side vetoes injection (Spark would
    # rather broadcast the join) — disable auto-broadcast to reproduce
    # the 100 TB shape where the dim outgrows the threshold
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def runtime_filtered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by return flag for lineitems of URGENT orders, executed as
    a SHUFFLE join so Spark's runtime bloom-filter injection is the star:
    the selective orders side builds a bloom filter at runtime and Spark
    pushes a ``might_contain`` probe onto the lineitem side BEFORE its
    shuffle — at 100 TB this is the mechanism that keeps a fact-table
    shuffle proportional to the matching rows, not the table, once the
    filtered dim outgrows the broadcast threshold.

    Injection is vetoed whenever the creation side could instead be
    broadcast (and gated on a 10 GB application-side scan) — both
    correct at scale and both unreachable at test SF — so the query runs
    its action under a conf guard that disables auto-broadcast and lowers
    the scan gate, then RESTORES the session confs (other queries' plans
    must keep their broadcasts). The guarded action materializes the
    |return-flags|-row aggregate — the same bounded-collect class as
    observed_quality_gate — and the bloom filter is semantically a no-op
    (conservative pruning), so results are unchanged: the oracle proves
    it. Plan contract (executed plan contains a might_contain probe)
    asserted in tests/test_plan_shapes.py.
    """
    saved = {k: spark.conf.get(k, None) for k in _RTF_CONFS}
    try:
        for k, v in _RTF_CONFS.items():
            spark.conf.set(k, v)
        rows = _runtime_filtered_frame(spark, sf_dir).collect()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.createDataFrame(
        [(r["l_returnflag"], int(r["n_items"]), float(r["revenue"]))
         for r in rows],
        "l_returnflag string, n_items long, revenue double",
    )


RUNTIME_FILTERED_JOIN_SQL = """
SELECT l.l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


# ---------------------------------------------------------------------------
# EWMA smoothing (recursive time-series state as an order-pinned fold)
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.25  # exactly representable in binary: the fold is ulp-exact


def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily revenue per nation —
    the recursive smoother (sₜ = α·xₜ + (1−α)·sₜ₋₁, s₁ = x₁) no window
    function expresses, computed as a strict left fold over the
    date-ordered daily series. α = 0.25 so α and 1−α are exact binary
    fractions: every fold step is a pair of exact-input IEEE operations,
    identical on both engines, and only the FINAL smoothed value is
    rounded. Daily revenue itself is decimal-accumulated then rounded
    (the engine's float-sum policy).

    Scale: the (nation, day) pre-aggregation is a small-key partial-agg
    exchange; the per-nation series collect is bounded by the calendar
    (|days|), not the corpus — the same bounded-state class as a
    per-document token list. No window nodes."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    from pyspark.sql.functions import broadcast as _bc

    day = F.expr("unix_date(CAST(o_orderdate AS DATE))").cast("long")
    daily = (
        orders.join(_bc(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(_bc(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", day.alias("day"))
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                6,
            ).alias("rev")
        )
    )
    series = daily.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max("day").alias("last_day"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "rev"))),
            lambda s: s["rev"],
        ).alias("revs"),
    )
    a, b = EWMA_ALPHA, 1 - EWMA_ALPHA
    ewma = F.aggregate(
        F.slice(F.col("revs"), 2, F.greatest(F.size("revs") - 1, F.lit(0))),
        F.element_at("revs", 1),
        lambda acc, x: F.lit(b) * acc + F.lit(a) * x,
    )
    return series.select(
        "n_name",
        "n_days",
        "last_day",
        F.round(ewma, 6).alias("ewma_revenue"),
    ).orderBy("n_name")


EWMA_DAILY_REVENUE_SQL = f"""
WITH daily AS (
  SELECT n.n_name,
         datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
           AS day,
         round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)
           AS rev
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name, day
),
series AS (
  SELECT n_name,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(max(day) AS BIGINT) AS last_day,
         list(rev ORDER BY day) AS revs
  FROM daily GROUP BY n_name
)
SELECT n_name, n_days, last_day,
       round(list_reduce(revs,
             (acc, x) -> {1 - EWMA_ALPHA} * acc + {EWMA_ALPHA} * x), 6)
         AS ewma_revenue
FROM series
ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# Z-order layout (multi-dimensional clustering for scan pruning)
# ---------------------------------------------------------------------------

ZORDER_BITS = 16     # per-dimension quantization
ZORDER_BUCKETS = 8   # top bits kept → 2^8 layout buckets


def _interleave_expr(x: str, y: str, bits: int) -> str:
    """Bit-interleave SQL expression (x even bits, y odd) — same integer
    arithmetic on both engines."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering of orders on (customer, order day) —
    the data-layout technique behind multi-dimensional file pruning in
    lakehouse tables: rows near each other on the Z-curve are near in
    EVERY interleaved dimension, so min/max file statistics prune scans
    filtered on either column. The query quantizes both dimensions to
    ZORDER_BITS against their observed ranges (broadcast 1-row bounds),
    interleaves the bits, and reports per-bucket statistics — each
    bucket's per-dimension spread is ~1/2^(buckets/2) of the domain,
    which IS the pruning guarantee (asserted quantitatively in
    tests/test_scale_techniques.py).

    All arithmetic is integer (quantize = exact integer scaling; Morton
    code = shifts/masks), so the oracle matches bit for bit.

    Scale: one pass to compute bounds (broadcast), one narrow map for
    z-values, one |buckets|-cardinality partial agg. In production the
    z-value feeds repartitionByRange + sortWithinPartitions as the write
    layout; the bucket stats here are the evidence the layout yields
    prunable files."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql.functions import broadcast as _bc

    day = F.expr("unix_date(CAST(o_orderdate AS DATE))").cast("long")
    base = orders.select(
        F.col("o_custkey").alias("ck"), day.alias("dy")
    )
    bounds = base.agg(
        F.min("ck").alias("ck_min"),
        F.max("ck").alias("ck_max"),
        F.min("dy").alias("dy_min"),
        F.max("dy").alias("dy_max"),
    )
    scale = (1 << ZORDER_BITS) - 1
    q = base.crossJoin(_bc(bounds)).select(
        "ck",
        "dy",
        F.expr(
            f"CAST((ck - ck_min) * {scale} DIV "
            f"greatest(ck_max - ck_min, 1) AS BIGINT)"
        ).alias("qx"),
        F.expr(
            f"CAST((dy - dy_min) * {scale} DIV "
            f"greatest(dy_max - dy_min, 1) AS BIGINT)"
        ).alias("qy"),
    )
    z = q.withColumn(
        "zval", F.expr(_interleave_expr("qx", "qy", ZORDER_BITS))
    ).withColumn(
        "bucket",
        F.expr(f"zval >> {2 * ZORDER_BITS - ZORDER_BUCKETS}").cast("long"),
    )
    return (
        z.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ck").alias("ck_lo"),
            F.max("ck").alias("ck_hi"),
            F.min("dy").alias("dy_lo"),
            F.max("dy").alias("dy_hi"),
        )
        .orderBy("bucket")
    )


ZORDER_LAYOUT_SQL = f"""
WITH base AS (
  SELECT o_custkey AS ck,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dy
  FROM orders
),
bounds AS (
  SELECT min(ck) AS ck_min, max(ck) AS ck_max,
         min(dy) AS dy_min, max(dy) AS dy_max
  FROM base
),
q AS (
  SELECT ck, dy,
         CAST((ck - ck_min) * {(1 << ZORDER_BITS) - 1}
              // greatest(ck_max - ck_min, 1) AS BIGINT) AS qx,
         CAST((dy - dy_min) * {(1 << ZORDER_BITS) - 1}
              // greatest(dy_max - dy_min, 1) AS BIGINT) AS qy
  FROM base CROSS JOIN bounds
),
z AS (
  SELECT ck, dy,
         ({_interleave_expr("qx", "qy", ZORDER_BITS)})
           >> {2 * ZORDER_BITS - ZORDER_BUCKETS} AS bucket
  FROM q
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(ck) AS BIGINT) AS ck_lo, CAST(max(ck) AS BIGINT) AS ck_hi,
       CAST(min(dy) AS BIGINT) AS dy_lo, CAST(max(dy) AS BIGINT) AS dy_hi
FROM z
GROUP BY bucket
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Lateral correlated subquery (SQL surface: LATERAL join)
# ---------------------------------------------------------------------------

def lateral_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 suppliers by balance per nation, written as a LATERAL
    correlated subquery — the SQL-surface twin of the window top-k
    (window_top_customers): a per-row subquery ordered+limited against
    the outer row. Catalyst DECORRELATES it (DecorrelateInnerQuery +
    RewriteLateralSubquery) into the same shuffle shapes a window plan
    gets — the point of declaring laterally: you write per-row logic, the
    optimizer keeps it set-based, no per-row execution at any scale.

    Ties: (s_acctbal DESC, s_name) is total, so LIMIT 3 is deterministic
    and both engines pick identical rows."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "lat_nation_v"
    )
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView(
        "lat_supplier_v"
    )
    return spark.sql(
        """
        SELECT n.n_name, t.s_name, t.s_acctbal
        FROM lat_nation_v n
        JOIN LATERAL (
          SELECT s_name, s_acctbal
          FROM lat_supplier_v s
          WHERE s.s_nationkey = n.n_nationkey
          ORDER BY s_acctbal DESC, s_name
          LIMIT 3
        ) t
        ORDER BY n.n_name, t.s_acctbal DESC, t.s_name
        """
    )


LATERAL_TOP_SUPPLIERS_SQL = """
SELECT n.n_name, t.s_name, t.s_acctbal
FROM nation n
JOIN LATERAL (
  SELECT s_name, s_acctbal
  FROM supplier s
  WHERE s.s_nationkey = n.n_nationkey
  ORDER BY s_acctbal DESC, s_name
  LIMIT 3
) t ON TRUE
ORDER BY n.n_name, t.s_acctbal DESC, t.s_name
"""


# ---------------------------------------------------------------------------
# Exact global percentiles by distributed rank selection
# ---------------------------------------------------------------------------

PERCENTILE_PERMILLES = (500, 900, 990)


def exact_global_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (not interpolated, not approximate) global percentiles of
    line price by RANK SELECTION: the value at rank ⌈p·n⌉ of the total
    order (price, orderkey, linenumber). The classic scale trap is
    sorting the whole table through one task to find a percentile —
    here the rank comes from the distributed-rank primitive
    (range partition + local index + broadcast prefix offsets,
    operators/ranking.py), so the plan has no single-partition sort and
    no window node; the selection filter reads the ranked frame once.

    Sibling of quantiles_summary (per-group interpolated `percentile`,
    the aggregate path): this is the order-statistics path, the one you
    take when the value must be an actual data point (p99 latency, price
    caps) or when a single global aggregate would not distribute.

    Target ranks use integer arithmetic (⌈p·n⌉ = (n·m + 999) DIV 1000 on
    permilles) so no float ceil can disagree across engines."""
    from ..operators.ranking import with_distributed_rank

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_extendedprice").alias("v"),
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").alias("k2"),
    )
    n = base.count()
    targets = [
        (m, (n * m + 999) // 1000) for m in PERCENTILE_PERMILLES
    ]
    tdf = spark.createDataFrame(targets, "permille int, rnk long")
    ranked = with_distributed_rank(
        base, [F.asc("v"), F.asc("k1"), F.asc("k2")], "rnk"
    )
    from pyspark.sql.functions import broadcast as _bc

    return (
        ranked.join(_bc(tdf), "rnk")
        .select("permille", "rnk", F.col("v").alias("value"))
        .orderBy("permille")
    )


EXACT_PERCENTILES_SQL = f"""
WITH t AS (
  SELECT l_extendedprice AS v, l_orderkey AS k1, l_linenumber AS k2
  FROM lineitem
),
n AS (SELECT count(*) AS n FROM t),
r AS (
  SELECT v, row_number() OVER (ORDER BY v, k1, k2) AS rnk FROM t
),
p(permille) AS (VALUES {", ".join(f"({m})" for m in PERCENTILE_PERMILLES)})
SELECT CAST(p.permille AS INTEGER) AS permille,
       CAST((n.n * p.permille + 999) // 1000 AS BIGINT) AS rnk,
       r.v AS value
FROM p CROSS JOIN n
JOIN r ON r.rnk = (n.n * p.permille + 999) // 1000
ORDER BY permille
"""


# ---------------------------------------------------------------------------
# pandas API on Spark (pyspark.pandas) — same Catalyst plans, pandas surface
# ---------------------------------------------------------------------------

def pandas_api_priority_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order statistics per priority written against the pandas API on
    Spark (``pyspark.pandas``): the third query surface next to
    DataFrame and SQL — pandas idioms (groupby/agg dicts) compiling to
    the SAME Catalyst plans, which is what makes the layer usable at
    scale instead of a driver-side pandas trap. ``to_spark()`` at the end
    drops the synthetic index and hands back the engine's native type.

    Aggregates are chosen exact (count / min / max — selections, not
    float sums) so the oracle hashes bit-for-bit regardless of partition
    order."""
    import pyspark.pandas as ps

    psdf = load_table(spark, sf_dir, "orders").pandas_api()
    out = (
        psdf.groupby("o_orderpriority")
        .agg(
            n_orders=("o_orderkey", "count"),
            min_price=("o_totalprice", "min"),
            max_price=("o_totalprice", "max"),
        )
        .reset_index()
    )
    return (
        out.to_spark()
        .select(
            "o_orderpriority",
            F.col("n_orders").cast("long").alias("n_orders"),
            "min_price",
            "max_price",
        )
        .orderBy("o_orderpriority")
    )


PANDAS_API_PRIORITY_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Parquet aggregate pushdown (footer-statistics-only scan)
# ---------------------------------------------------------------------------

def metadata_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT/MIN/MAX of lineitem computed from parquet FOOTER STATISTICS
    (``spark.sql.parquet.aggregatePushdown``): the scan reads row-group
    metadata instead of data pages — at 100 TB the difference between a
    full-table read and a few KB of footers. Only bare aggregates with no
    filter and no grouping qualify (exactly this query's shape); the plan
    must show ``PushedAggregation`` on the scan (asserted in
    tests/test_plan_shapes.py).

    The conf is session-wide and default-off, so the query follows the
    runtime_filtered_join discipline: enable, materialize the 1-row
    result (bounded collect), restore."""
    confs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        # pushdown exists only on the DataSourceV2 read path; parquet sits
        # on the V1 list by default, so drop it there for this query only
        "spark.sql.sources.useV1SourceList": "avro,csv,json,kafka,orc,text",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        rows = _metadata_agg_frame(spark, sf_dir).collect()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    r = rows[0]
    return spark.createDataFrame(
        [
            (
                int(r["n_rows"]),
                int(r["min_orderkey"]),
                int(r["max_orderkey"]),
                float(r["min_price"]),
                float(r["max_price"]),
            )
        ],
        "n_rows long, min_orderkey long, max_orderkey long, "
        "min_price double, max_price double",
    )


def _metadata_agg_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy aggregate metadata_agg_pushdown runs under its conf guard
    (split out so tests can assert PushedAggregation on the scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_orderkey").alias("min_orderkey"),
        F.max("l_orderkey").alias("max_orderkey"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


METADATA_AGG_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       min(l_orderkey) AS min_orderkey,
       max(l_orderkey) AS max_orderkey,
       min(l_extendedprice) AS min_price,
       max(l_extendedprice) AS max_price
FROM lineitem
"""


# ---------------------------------------------------------------------------
# Dynamic partition pruning (join-driven runtime partition elimination)
# ---------------------------------------------------------------------------

def dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order volume restricted to months that shipped any
    high-quantity lineitem — executed against a MONTH-PARTITIONED copy of
    orders so Spark's dynamic partition pruning is the star: the filtered
    dimension side's join keys become a runtime partition filter
    (``dynamicpruningexpression`` on the scan, asserted in
    tests/test_plan_shapes.py), and fact partitions for non-qualifying
    months are never read. At 100 TB this is THE star-schema mechanism:
    static pruning handles literal predicates
    (partitioned_source_pruned); DPP handles predicates only a join can
    decide.

    The partitioned staging write is the engine's layout step (same
    staging discipline as the streaming queries) and is keyed on sf_dir:
    repeated builds in one process reuse the already-partitioned copy —
    a real warehouse has the fact table laid out once, and re-writing it
    per run would measure the write, not the DPP join."""
    from ..staging import stage_once_dir

    stage = stage_once_dir(
        "dpp_orders_",
        sf_dir,
        "",
        lambda path: load_table(spark, sf_dir, "orders")
        .withColumn("month", F.date_format("o_orderdate", "yyyy-MM"))
        .write.mode("overwrite")
        .partitionBy("month")
        .parquet(path),
    )
    fact = read_staged(spark, stage)
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        li.where(F.col("l_quantity") >= 45)
        .select(F.date_format("l_shipdate", "yyyy-MM").alias("month"))
        .distinct()
    )
    return (
        fact.join(dim, "month")
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("month")
    )


DPP_SQL = """
WITH dim AS (
  SELECT DISTINCT strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m') AS month
  FROM lineitem WHERE l_quantity >= 45
)
SELECT strftime(CAST(o.o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o
JOIN dim ON dim.month = strftime(CAST(o.o_orderdate AS TIMESTAMP), '%Y-%m')
GROUP BY 1
ORDER BY month
"""


# ---------------------------------------------------------------------------
# SQL-defined UDFs (Spark 4 CREATE FUNCTION ... RETURN expr)
# ---------------------------------------------------------------------------

def sql_udf_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing aggregate computed through SQL-DEFINED scalar functions
    (Spark 4 ``CREATE FUNCTION ... RETURNS ... RETURN <expr>``), one of
    them calling the other — the UDF tier that costs NOTHING: Catalyst
    inlines the function body into the plan at analysis time, so the
    executed plan contains only the raw arithmetic inside whole-stage
    codegen (asserted in tests/test_plan_shapes.py: zero Python-eval
    nodes, the documented opposite of the pandas/row-UDF tiers in
    operators/pandas_ops.py).

    The oracle inlines the same expressions directly — semantics are
    identical by construction; what this query pins is that the SQL-UDF
    indirection changes neither results nor the plan.

    Scale: identical to pricing_summary — scan-bound multi-aggregate,
    partial/final split, group-cardinality shuffle.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_sqludf"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION charge_price("
        "p DOUBLE, d DOUBLE, t DOUBLE) "
        "RETURNS DOUBLE RETURN disc_price(p, d) * (1 + t)"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(sum(CAST(disc_price(l_extendedprice, l_discount)
                             AS DECIMAL(22,4))) AS DOUBLE) AS sum_disc,
               CAST(sum(CAST(charge_price(l_extendedprice, l_discount, l_tax)
                             AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge
        FROM lineitem_sqludf
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


SQL_UDF_PRICING_SQL = """
SELECT l_returnflag,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(22,4))) AS DOUBLE) AS sum_disc,
       CAST(sum(CAST((l_extendedprice * (1 - l_discount)) * (1 + l_tax)
                     AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def pipe_syntax_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority revenue written in Spark 4's SQL PIPE syntax
    (`FROM t |> WHERE … |> JOIN … |> AGGREGATE … |> ORDER BY`) — the
    operator-at-a-time query surface (SIGMOD'24 \"SQL Has Problems\"
    pipe-syntax proposal, landed in Spark 4.0). Same relational algebra,
    linearized: each |> stage parses to exactly the node the equivalent
    nested SELECT would, so Catalyst optimizes it identically (join
    reorder, pushdown — nothing about the syntax is interpreted at run
    time). The oracle is the ANSI form (DuckDB has no pipe syntax); a
    hash match proves the two surfaces denote the same query.

    Scale: lineitem⋈orders equi-join on the fact keys + a 5-group
    aggregate — the standard partial-agg/exchange shape; the WHERE stage
    reaches the parquet scan as a pushed filter like any other syntax.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_pipe"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_pipe"
    )
    return spark.sql(
        """
        FROM lineitem_pipe
        |> WHERE l_discount > 0.02
        |> JOIN orders_pipe ON l_orderkey = o_orderkey
        |> AGGREGATE
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(22,4))) AS DOUBLE) AS revenue,
             count(*) AS n_items
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )


PIPE_SYNTAX_REVENUE_SQL = """
SELECT o_orderpriority,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(22,4))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_discount > 0.02
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def sql_table_function_word_count(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Word count through a SQL-defined TABLE function (Spark 4
    ``CREATE FUNCTION ... RETURNS TABLE ... RETURN SELECT``), applied
    with LATERAL — the set-returning sibling of sql_udf_pricing and the
    inlined counterpart of udtf_word_count (the Python UDTF): Catalyst
    expands the function body into an ordinary Generate/explode subtree,
    so unlike the Python UDTF there is no Python evaluation anywhere
    (asserted). Filtered to words seen ≥ 2 times so the oracle is
    distinct from word_count's.

    Scale: identical to word_count — explode is a narrow generator,
    ONE vocab-cardinality aggregate exchange.
    """
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_sqltvf"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tokenize_words(t STRING) "
        "RETURNS TABLE(word STRING) "
        "RETURN SELECT explode(filter(split(lower(t), '\\\\s+'), "
        "x -> x != '')) AS word"
    )
    return spark.sql(
        """
        SELECT w.word, count(*) AS cnt
        FROM documents_sqltvf d, LATERAL tokenize_words(d.text) AS w
        GROUP BY w.word
        HAVING count(*) >= 2
        ORDER BY word
        """
    )


SQL_TVF_WORD_COUNT_SQL = r"""
SELECT word, count(*) AS cnt
FROM (
  SELECT unnest(list_filter(str_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS word
  FROM documents
)
GROUP BY word
HAVING count(*) >= 2
ORDER BY word
"""


# ---------------------------------------------------------------------------
# Multiset (ALL) set operations
# ---------------------------------------------------------------------------

def multiset_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL with true bag semantics — the ALL
    variants keep MULTIPLICITY (a customer with three URGENT and one
    HIGH order contributes min(3,1)=1 row to the intersection and
    3-1=2 rows to the difference), which the DISTINCT set ops
    (set_ops_segments, intersect_segments) cannot express. Spark plans
    both as aggregate-count + generate (replicate min/diff counts), not
    a join-dedup.

    Scale: two |customers|-cardinality aggregates; output counts bag
    multiplicities, so no row explosion survives the final group-by.
    """
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    high = orders.where(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("custkey")
    )
    both = urgent.intersectAll(high).select(
        F.lit("intersect_all").alias("op"), "custkey"
    )
    only_urgent = urgent.exceptAll(high).select(
        F.lit("except_all").alias("op"), "custkey"
    )
    return (
        both.unionByName(only_urgent)
        .groupBy("op", "custkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .orderBy("op", "custkey")
    )


MULTISET_SET_OPS_SQL = """
WITH urgent AS (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
high AS (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '2-HIGH'
),
tagged AS (
  SELECT 'intersect_all' AS op, custkey
  FROM (SELECT custkey FROM urgent INTERSECT ALL SELECT custkey FROM high)
  UNION ALL
  SELECT 'except_all' AS op, custkey
  FROM (SELECT custkey FROM urgent EXCEPT ALL SELECT custkey FROM high)
)
SELECT op, custkey, count(*) AS multiplicity
FROM tagged
GROUP BY op, custkey
ORDER BY op, custkey
"""


# ---------------------------------------------------------------------------
# Polymorphic Python UDTF (analyze-time schema)
# ---------------------------------------------------------------------------

def polymorphic_udtf_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property extraction through a POLYMORPHIC Python UDTF: the
    function's output schema is computed at analysis time by its
    ``analyze`` staticmethod from a constant argument (the requested key
    list) — the caller names the columns, the planner resolves them
    statically, and the row schema is still fully typed. Completes the
    UDTF story next to udtf_word_count (static schema) and
    sql_table_function_word_count (SQL-defined, inlined).

    The requested list includes a key absent from every event
    ('missing') — the analyze-produced column materializes as NULLs,
    which the aggregate pins (n_missing counts non-nulls, so 0).

    Scale: the UDTF is a narrow per-row generator (Arrow-batched); the
    only exchange is the k-value aggregate.
    """
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructField, StructType

    class SplitProps:
        @staticmethod
        def analyze(*args):
            from pyspark.sql.udtf import AnalyzeResult

            keys = args[1].value.split(",")
            return AnalyzeResult(
                StructType(
                    [StructField(k, StringType()) for k in keys]
                )
            )

        def eval(self, props, keys):
            import json

            d = json.loads(props) if props else {}
            yield tuple(
                None if d.get(k) is None else str(d.get(k))
                for k in keys.split(",")
            )

    spark.udtf.register("split_props", udtf(SplitProps))
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events_poly"
    )
    return spark.sql(
        """
        SELECT CAST(s.k AS BIGINT) AS k_value,
               count(*) AS n_events,
               count(s.missing) AS n_missing
        FROM events_poly e, LATERAL split_props(e.props, 'k,missing') s
        GROUP BY 1
        ORDER BY k_value
        """
    )


POLYMORPHIC_UDTF_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
       count(*) AS n_events,
       CAST(0 AS BIGINT) AS n_missing
FROM events
GROUP BY 1
ORDER BY k_value
"""
