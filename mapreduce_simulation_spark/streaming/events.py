"""Structured Streaming over the events table.

Each builder takes a *streaming* DataFrame with the events schema
(ts timestamp, user_id long, event_type string, value double, ...) and
returns the transformed streaming DataFrame; the caller attaches a sink.
The logical plans intentionally match their batch twins in
plans/relational.py — run the same transformation both ways and results
converge as the watermark closes windows (verified in tests via
Trigger.AvailableNow against the batch answer). The driver-facing
streaming queries share one harness: ``stage_stream_source`` stages a
table as a file-stream source, ``run_to_memory`` drains into a memory
sink.

Scale notes: windowed aggregation state is bounded by the watermark (10 min
late-data allowance); keys = event_type × open windows, tiny. Session
windows use F.session_window (gap-based), state pruned the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

WATERMARK = "10 minutes"


def read_event_stream(
    spark: SparkSession, directory: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """File-source stream over parquet event files (one file per micro-batch
    by default; in production this is Kafka/Kinesis — the plan is identical).

    Note: file discovery order is not guaranteed to follow event time; with
    stateful operators that enforce the watermark (session windows), files
    arriving out of time order are dropped as late — exactly as a real
    out-of-order source would be. Pass ``max_files_per_trigger=None`` to
    drain everything in one batch when that's not the semantics under test.
    """
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(directory)


def windowed_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling-window counts and value sums per event type, with a
    watermark bounding late data and state size — the streaming twin of
    relational.events_daily."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based session windows per user (streaming sessionization — the
    incremental twin of relational.sessionize_events)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("sess"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain a stream with Trigger.AvailableNow into the in-memory table
    ``name`` and return the batch result — the test/driver harness for
    streaming plans. ``output_mode`` is the sink's: "complete" re-emits
    every aggregate row, "append" emits each row once (joins, dedup,
    stateful operators and watermark-finalized windows)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def stage_stream_source(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    range_col: str | None = None,
) -> str:
    """Stage ``table`` as the parquet file source of a stream: one file,
    or four range-split files on ``range_col`` (so a
    ``maxFilesPerTrigger=1`` drain crosses micro-batch boundaries).

    Keyed by (table, range_col, sf_dir), so every query asking for the
    same split shares one copy, rebuilt when the table changes. The table
    is loaded on every call, hit or not, so loading ``events`` still pins
    its session confs (``tables.load_table``)."""
    from ..staging import stage_once_dir
    from ..tables import load_table

    load_table(spark, sf_dir, table)

    def write(path: str) -> None:
        df = load_table(spark, sf_dir, table)
        # repartition(1), not coalesce(1), so the write is a real
        # shuffle-to-one-task instead of collapsing the scan's parallelism
        # into the writing task
        df = df.repartitionByRange(4, range_col) if range_col else (
            df.repartition(1)
        )
        df.write.mode("overwrite").parquet(path)

    return stage_once_dir(
        f"{table}_stream_", f"split={range_col}|sf={sf_dir}", "", write
    )


def streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing end-to-end streaming query: stage the events table as a
    time-ordered parquet file stream, run the tumbling-window aggregation
    incrementally (micro-batch per file), drain with Trigger.AvailableNow,
    and return the final batch result. Matches the batch/DuckDB answer
    because tumbling-window aggregation in complete mode retains all
    windows (the watermark bounds state in update/append deployments)."""
    stage = stage_stream_source(spark, sf_dir, "events", "ts")
    stream = read_event_stream(spark, stage)
    return run_to_memory(windowed_counts(stream, "1 hour"), "events_hourly_stream")


def click_purchase_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream inner join: each purchase paired with the same user's
    clicks in the preceding 30 minutes. Both sides are watermarked so the
    engine can bound the join state (clicks older than the watermark minus
    the range can never match and are evicted) — the canonical
    attribution-join shape. Equi-key on user_id keeps it a hash join per
    micro-batch; the time-range predicate prunes state, it does not drive
    the join."""
    c = (
        clicks.withWatermark("ts", WATERMARK)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", WATERMARK)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    return p.join(
        c,
        [
            p["user_id"] == c["user_id"],
            c["click_ts"] <= p["purchase_ts"],
            c["click_ts"] >= p["purchase_ts"] - F.expr("INTERVAL 30 MINUTES"),
        ],
    ).select(
        "purchase_id",
        p["user_id"].alias("user_id"),
        "purchase_ts",
        "click_id",
        "click_ts",
    )


def streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing stream-stream join query: stage events once, read two
    filtered streams (clicks, purchases) from it, join with watermarked
    state, drain with Trigger.AvailableNow. Single-batch staging makes the
    emitted set equal the batch join, so the oracle is the plain SQL join."""
    stage = stage_stream_source(spark, sf_dir, "events")
    ev = read_event_stream(spark, stage, max_files_per_trigger=None)
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    return run_to_memory(
        click_purchase_join(clicks, purchases), "click_attribution", "append"
    )


def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: first-seen (user_id, event_type) pairs via
    dropDuplicates over the stream — state is one entry per distinct key,
    evictable with dropDuplicatesWithinWatermark when keys have bounded
    lifetime. Output restricted to the key columns so the emitted set is
    order-independent (which row of a dup group arrives first varies; the
    key itself does not) → exact DISTINCT oracle."""
    stage = stage_stream_source(spark, sf_dir, "events")
    ev = read_event_stream(spark, stage, max_files_per_trigger=None)
    deduped = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return run_to_memory(deduped, "stream_dedup_keys", "append")


def sliding_counts(
    events: DataFrame, window: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding-window counts and value sums per event type: each event lands
    in window/slide overlapping windows (2 here). State is bounded exactly
    as tumbling — watermark closes every window whose end passes it; the
    multiplicity only multiplies open-window count, not per-window state."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", window, slide).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing gap-based session-window streaming query — the
    incremental twin of relational.sessionize_events, through the same
    staging/drain harness as streaming_events_hourly. Spark's
    session_window(ts, gap) closes a session when the next event lands at
    or after last_ts + gap (the window is [start, last_ts + gap)), so the
    oracle's gaps-and-islands replay uses `diff >= gap`, and session_end is
    max(ts) + gap. Complete output mode retains all sessions, matching the
    batch answer; in an append deployment the watermark expires session
    state the same way it bounds the tumbling windows."""
    stage = stage_stream_source(spark, sf_dir, "events", "ts")
    # One-batch drain: the session operator enforces the watermark on its
    # INPUT even in complete mode, so per-file micro-batches drop any event
    # behind the previous batch's high watermark (file order is not a time
    # order guarantee) — measured 7132 vs 9549 sessions at sf0.01. Single
    # batch ⇒ no intermediate watermark ⇒ exact parity with the batch
    # sessionization; the incremental multi-batch path (with its late-drop
    # semantics) is exercised in tests/test_streaming_multimodal.py.
    stream = read_event_stream(spark, stage, max_files_per_trigger=None)
    return run_to_memory(
        session_windows(stream, "30 minutes"), "events_sessions_stream"
    )


def streaming_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing sliding-window streaming query (window 1 h, slide
    30 min) — same staging/drain harness as streaming_events_hourly. The
    oracle expands each event to its two covering windows with epoch-aligned
    integer arithmetic (Spark windows align to the epoch), so the overlap
    semantics are checked exactly, not just row counts."""
    stage = stage_stream_source(spark, sf_dir, "events", "ts")
    stream = read_event_stream(spark, stage)
    return run_to_memory(
        sliding_counts(stream, "1 hour", "30 minutes"), "events_sliding_stream"
    )


def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bounded-state streaming dedup: dropDuplicatesWithinWatermark keeps a
    key's state only until the watermark passes its event time, so the
    state store holds (keys live within the watermark horizon) instead of
    (all keys ever) — the production shape when the key space is unbounded
    but duplicates arrive close together (retries, at-least-once sources).
    Single-batch drain makes the emitted set equal global DISTINCT on the
    key columns, so the exact oracle applies; the eviction behavior itself
    is the API contract (state TTL = watermark), not visible in the
    result."""
    stage = stage_stream_source(spark, sf_dir, "events")
    ev = read_event_stream(spark, stage, max_files_per_trigger=None)
    deduped = (
        ev.withWatermark("ts", WATERMARK)
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(deduped, "stream_dedup_wm", "append")


def streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched with the (batch)
    customer dimension on user_id = c_custkey, then aggregated per market
    segment. The static side needs no watermark and no state — each
    micro-batch plans a fresh join against the table, which Spark
    broadcasts at dim size; at 100 TB this is the standard pattern for
    slowly-changing dims (re-resolved every batch, so updates to the dim
    are picked up without restarting the query)."""
    from ..tables import load_table

    stage = stage_stream_source(spark, sf_dir, "events")
    ev = read_event_stream(spark, stage, max_files_per_trigger=None)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = ev.join(cust, ev["user_id"] == cust["c_custkey"]).groupBy(
        "c_mktsegment"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "sum_value"
        ),
    )
    return run_to_memory(enriched, "stream_static_enrich")


def streaming_upsert_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert sink (foreachBatch MERGE / SCD-type-1): maintain a
    per-user profile — event count, decimal-accumulated total value, and
    the latest event's type/timestamp — by merging each micro-batch's partial
    aggregate into the running target table inside ``foreachBatch``. This
    is the sink-side pattern the rest of the streaming family doesn't
    cover: idempotent MERGE into a mutable target (on a lakehouse this is
    `MERGE INTO`; here the target is a checkpointed DataFrame swapped per
    batch, which keeps the merge itself distributed).

    Every merge operation is associative and commutative-safe across
    batch boundaries (sum, decimal sum, max of a (ts, event_id) struct
    with the event type carried alongside), so the final state equals the
    one-shot batch aggregate — which is the exact DuckDB oracle.
    """
    from ..staging import staging_dir

    stage = stage_stream_source(spark, sf_dir, "events", "ts")
    stream = read_event_stream(spark, stage)

    state: dict[str, DataFrame | None] = {"target": None}

    def _batch_agg(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
            F.max(
                F.struct(
                    F.col("ts"), F.col("event_id"), F.col("event_type")
                )
            ).alias("last"),
        )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        agg = _batch_agg(batch_df)
        cur = state["target"]
        if cur is None:
            state["target"] = agg.localCheckpoint()
            return
        a = cur.alias("a")
        b = agg.alias("b")
        merged = (
            a.join(b, F.col("a.user_id") == F.col("b.user_id"), "full_outer")
            .select(
                F.coalesce(F.col("a.user_id"), F.col("b.user_id")).alias(
                    "user_id"
                ),
                (
                    F.coalesce(F.col("a.n_events"), F.lit(0))
                    + F.coalesce(F.col("b.n_events"), F.lit(0))
                ).alias("n_events"),
                (
                    F.coalesce(
                        F.col("a.total_value"),
                        F.lit(0).cast("decimal(18,2)"),
                    )
                    + F.coalesce(
                        F.col("b.total_value"),
                        F.lit(0).cast("decimal(18,2)"),
                    )
                ).alias("total_value"),
                F.when(
                    F.col("a.last").isNull(), F.col("b.last")
                )
                .when(F.col("b.last").isNull(), F.col("a.last"))
                .otherwise(F.greatest(F.col("a.last"), F.col("b.last")))
                .alias("last"),
            )
        )
        state["target"] = merged.localCheckpoint()

    q = (
        stream.writeStream.foreachBatch(_merge)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", staging_dir("events_upsert_ckpt_")
        )
        .start()
    )
    q.awaitTermination()
    target = state["target"]
    assert target is not None, "stream produced no batches"
    return target.select(
        "user_id",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
        F.unix_micros(F.col("last.ts")).alias("last_ts_us"),
        F.col("last.event_type").alias("last_event_type"),
    ).orderBy("user_id")


def _stage_with_sentinels(
    spark: SparkSession, sf_dir: str, event_types: list[str]
) -> str:
    """Stage ``events`` once per sf_dir as a one-file stream source plus
    one SENTINEL event (event_id and user_id -1) per entry of
    ``event_types``, 10 days past the real maximum: the sentinels carry
    the watermark past every real event, so the no-data batch flushes all
    state before AvailableNow terminates. Callers filter them out."""
    from ..staging import stage_once_dir
    from ..tables import load_table

    def write(path: str) -> None:
        base = load_table(spark, sf_dir, "events").select(
            *EVENTS_SCHEMA.fieldNames()
        )
        sentinels = base.agg(F.max("ts").alias("m")).select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("m") + F.expr("INTERVAL 10 DAYS")).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.explode(F.array(*map(F.lit, event_types))).alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        # repartition(1): see stage_stream_source
        base.unionByName(sentinels).repartition(1).write.mode(
            "overwrite"
        ).parquet(path)

    load_table(spark, sf_dir, "events")  # pins the events confs on a hit
    return stage_once_dir(
        "events_sentinel_", f"{'+'.join(event_types)}|sf={sf_dir}", "", write
    )


def streaming_attribution_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every purchase, attributed to the
    same user's clicks in the preceding 30 minutes, emitted WITH NULLS
    when no click matched — the mechanism the inner variant
    (streaming_click_attribution) cannot show: unmatched left-side state
    is held until the watermark proves no future match can arrive, then
    flushed as a null row by a no-data micro-batch.

    Determinism: the staged batch appends two SENTINEL events (user_id
    -1) 10 days past the real maximum, so the post-batch watermark passes
    every real purchase and the no-data batch flushes ALL unmatched
    state before AvailableNow terminates — without the sentinel, the
    last watermark horizon of purchases would stay open and the emitted
    set would depend on engine-internal eviction timing. Sentinel rows
    are filtered from the result (their only job is advancing the
    watermark), so the oracle is the plain batch LEFT JOIN.

    Scale: same bounded state as the inner join (watermark minus range
    evicts both sides); the outer flush adds no state, only emission."""
    stage = _stage_with_sentinels(spark, sf_dir, ["click", "purchase"])
    ev = read_event_stream(spark, stage, max_files_per_trigger=None)
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    c = clicks.withWatermark("ts", WATERMARK).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", WATERMARK).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = p.join(
        c,
        [
            p["user_id"] == c["c_user_id"],
            c["click_ts"] <= p["purchase_ts"],
            c["click_ts"]
            >= p["purchase_ts"] - F.expr("INTERVAL 30 MINUTES"),
        ],
        "left_outer",
    ).select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
    return run_to_memory(joined, "attribution_outer", "append").where(
        F.col("user_id") != -1
    )


def streaming_events_hourly_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """APPEND-mode tumbling-window aggregation: a window row is emitted
    exactly once, when the watermark proves it closed — the mechanism
    complete mode (streaming_events_hourly) never exercises: state
    EVICTION and one-shot finalized emission, which is what bounds state
    on an unbounded stream. Complete mode re-emits everything and keeps
    all windows forever; append is the production deployment.

    Determinism: the staged batch carries a sentinel event 10 days past
    the real maximum (the streaming_attribution_outer technique), so the
    post-batch watermark closes every real window and the no-data batch
    flushes them all; sentinel windows are filtered from the result. The
    oracle is therefore the full batch aggregate over real events.
    """
    stage = _stage_with_sentinels(spark, sf_dir, ["sentinel"])
    stream = read_event_stream(spark, stage, max_files_per_trigger=None)
    agg = windowed_counts(stream, "1 hour")
    return run_to_memory(agg, "events_hourly_append", "append").where(
        F.col("event_type") != "sentinel"
    )


def streaming_custom_source_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-event-type rollup read through the CUSTOM streaming Python
    DataSource (sources/eventlog_stream.py) — the streaming twin of the
    kvtext batch connector: parquet row groups are the offset unit and
    each batch's partitions are read executor-side as Arrow batches
    (one row group each, so the 4 staged files parallelize 4-wide).

    Staging writes the events table as 4 range-partitioned files; the
    reader reports them all as available (tailing/restart incrementality
    is driven in tests/test_streaming_multimodal.py), and complete-mode
    aggregation makes the final result equal the batch aggregate, which
    is the oracle. ts flows as epoch-microsecond BIGINTs end-to-end (the
    connector's anti-drift contract), so max_ts_us is integer-exact.
    """
    from ..sources.eventlog_stream import register_eventlog_stream

    register_eventlog_stream(spark)
    stage = stage_stream_source(spark, sf_dir, "events", "ts")
    stream = spark.readStream.format("eventlog_stream").load(stage)
    agg = (
        stream.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
            F.max("ts_us").alias("max_ts_us"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("eventlog_stream_rollup")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table("eventlog_stream_rollup").orderBy("event_type")


def streaming_kvtext_sink_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end CUSTOM connector loop, all four quadrants: the events
    table streams in through the eventlog_stream source (row-group
    offsets), streams out through the kvtext STREAMING sink (idempotent
    batch-{id}-part-{pid} files, sources/kvtext.py KVTextStreamWriter),
    and is read back with the kvtext batch reader; the per-type rollup
    of the read-back rows must equal the batch aggregate of the original
    table — the oracle. Doubles survive the text hop because Spark's
    double→string is shortest-round-trip and the final cast recovers the
    identical bits before the decimal accumulation.
    """
    from ..sources.eventlog_stream import register_eventlog_stream
    from ..sources.kvtext import register_kvtext
    from ..staging import staging_dir

    register_eventlog_stream(spark)
    register_kvtext(spark)
    stage = stage_stream_source(spark, sf_dir, "events", "ts")
    out = staging_dir("kvsink_out_")
    ckpt = staging_dir("kvsink_ckpt_")
    stream = spark.readStream.format("eventlog_stream").load(stage)
    kv = stream.select(
        F.col("event_type").alias("key"),
        F.col("value").cast("string").alias("value"),
    )
    q = (
        kv.writeStream.format("kvtext")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.format("kvtext").load(out)
    return (
        back.groupBy(F.col("key"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("double").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("key")
    )
