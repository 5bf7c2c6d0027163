"""Streaming twins converge to batch answers; multimodal plumbing carries
binary batches through mapInPandas with the right schema and shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_simulation_spark.operators import multimodal
from mapreduce_simulation_spark.streaming import events as sev
from mapreduce_simulation_spark.tables import load_table


def _force_mtime_after(src_dir: str, earlier_files: set[str]) -> None:
    """FileStreamSource orders micro-batches by file modification time; a
    file appended moments after the first write can land on the SAME
    coarse-granularity mtime, making batch order undefined. Stamp every
    data file NOT in ``earlier_files`` strictly past the earlier batch's
    newest mtime so trigger order is deterministic."""
    import os

    names = [
        f
        for f in os.listdir(src_dir)
        if not f.startswith((".", "_")) and not f.endswith(".crc")
    ]
    earlier = [f for f in names if f in earlier_files]
    later = [f for f in names if f not in earlier_files]
    assert earlier and later, (earlier, later)
    base = max(os.path.getmtime(os.path.join(src_dir, f)) for f in earlier)
    for f in later:
        t = base + 10
        os.utime(os.path.join(src_dir, f), (t, t))


def _data_files(src_dir: str) -> set[str]:
    import os

    return {
        f
        for f in os.listdir(src_dir)
        if not f.startswith((".", "_")) and not f.endswith(".crc")
    }


@pytest.fixture(scope="module")
def event_files(spark, sf_dir, tmp_path_factory):
    """Events re-written as µs-timestamp parquet split into several files —
    the stream source directory (the raw table is ns-typed, which the
    streaming schema reader rejects)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    # Range-partition by time so each micro-batch (one file) is a time
    # slice — out-of-order files would be dropped as late by the watermark,
    # which is correct streaming semantics but not what this test probes.
    load_table(spark, sf_dir, "events").repartitionByRange(4, "ts").write.mode(
        "overwrite"
    ).parquet(out)
    return out


def test_windowed_counts_stream_equals_batch(spark, event_files):
    stream = sev.read_event_stream(spark, event_files)
    result = sev.run_to_memory(sev.windowed_counts(stream), "win_counts")

    batch = (
        spark.read.parquet(event_files)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    got = {tuple(r) for r in result.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_sliding_counts_stream_equals_batch(spark, event_files):
    """Incremental multi-batch (one file per trigger) sliding-window agg
    must equal the batch plan — and each event must land in exactly 2
    overlapping windows (1 h window, 30 min slide)."""
    stream = sev.read_event_stream(spark, event_files)
    result = sev.run_to_memory(
        sev.sliding_counts(stream, "1 hour", "30 minutes"), "slide_counts"
    )
    batch = (
        spark.read.parquet(event_files)
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    got = {tuple(r) for r in result.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    n_events_total = sum(r[3] for r in got)
    assert n_events_total == 2 * spark.read.parquet(event_files).count()


def test_session_windows_stream_counts(spark, event_files):
    stream = sev.read_event_stream(spark, event_files, max_files_per_trigger=None)
    result = sev.run_to_memory(sev.session_windows(stream), "sessions")
    rows = result.collect()
    assert rows
    total_events = sum(r.n_events for r in rows)
    assert total_events == spark.read.parquet(event_files).count()
    assert all(r.session_start <= r.session_end for r in rows)


def test_media_schema_and_checksums(spark, sf_dir):
    media = multimodal.synthesize_media(spark, sf_dir)
    assert dict(media.dtypes)["media"] == "binary"
    rows = media.limit(5).collect()
    import zlib

    for r in rows:
        assert r.n_bytes == len(bytes(r.media))
        assert r.checksum == zlib.crc32(bytes(r.media))


def test_media_feature_bins_shape_and_consistency(spark, sf_dir):
    """Exploded histogram: scalar columns only (driver-hashable), 16 rows
    per doc, counts sum back to n_bytes and weights to 1."""
    bins = multimodal.media_feature_bins(spark, sf_dir)
    assert [f.dataType.simpleString() for f in bins.schema.fields] == [
        "bigint", "string", "int", "bigint", "double"
    ]
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert bins.count() == n_docs * multimodal.FEATURE_DIM
    totals = (
        bins.groupBy("doc_id")
        .agg(
            F.sum("bin_count").alias("total"), F.sum("weight").alias("w")
        )
        .collect()
    )
    sizes = {
        r.doc_id: r.n_bytes
        for r in multimodal.synthesize_media(spark, sf_dir)
        .select("doc_id", "n_bytes")
        .collect()
    }
    for r in totals:
        assert r.total == sizes[r.doc_id]
        assert abs(r.w - 1.0) < 1e-9


def test_decode_media_contract():
    # video still needs real codecs — documented NotImplementedError
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"xx", "video/mp4")
    # the byte-level fake stays available for structural feature paths
    assert multimodal.decode_media(b"xx", "image/png", use_fake=True) == b"xx"
    # wav/png now decode for real — garbage bytes must fail loudly
    with pytest.raises(ValueError):
        multimodal.decode_media(b"not a png at all", "image/png")
    with pytest.raises(Exception):
        multimodal.decode_media(b"not a wav at all", "audio/wav")


def test_wav_roundtrip_through_stdlib_wave():
    for doc_id in (1, 17, 89, 1003):
        payload = multimodal.synthesize_wav(doc_id)
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        facts = multimodal.decode_media(payload, "audio/wav")
        n = 10 + doc_id % 90
        assert facts["n_units"] == n
        assert facts["sample_rate"] == multimodal.WAV_RATE
        assert facts["level_sum"] == sum(
            abs((doc_id * 31 + i * 7) % 2003 - 1001) for i in range(n)
        )


def test_png_roundtrip_through_struct_zlib():
    for doc_id in (0, 2, 16, 254):
        payload = multimodal.synthesize_png(doc_id)
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        facts = multimodal.decode_media(payload, "image/png")
        w, h = 1 + doc_id % 16, 1 + doc_id % 8
        assert (facts["width"], facts["height"]) == (w, h)
        assert facts["level_sum"] == sum(
            (doc_id + 3 * x + 5 * y) % 251
            for x in range(w)
            for y in range(h)
        )


def test_media_decode_through_arrow_stages(spark, sf_dir):
    """The registered query: WAV sample counts and PNG dimensions must
    survive the synthesize→Arrow→decode round trip for every document."""
    rows = multimodal.media_decode(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.media_type == "audio/wav":
            assert r.n_units == 10 + r.doc_id % 90
            assert r.sample_rate == multimodal.WAV_RATE
        else:
            assert r.width == 1 + r.doc_id % 16
            assert r.height == 1 + r.doc_id % 8
            assert r.n_units == r.width * r.height


def test_media_metadata_prunes_binary_column(spark, sf_dir, tmp_path):
    """Once the media table is materialized, a metadata-only aggregation
    must not read the binary payload column (column pruning at the scan)."""
    out = str(tmp_path / "media")
    multimodal.synthesize_media(spark, sf_dir).write.mode("overwrite").parquet(out)
    agg = (
        spark.read.parquet(out)
        .groupBy("media_type")
        .agg(F.count(F.lit(1)).alias("n_items"), F.sum("n_bytes").alias("total_bytes"))
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema:")[-1]
    assert "media_type" in read_schema
    assert "media:binary" not in read_schema.replace(" ", "")


def test_stateful_rollup_accumulates_across_batches(spark, event_files):
    """applyInPandasWithState: with one file per micro-batch, every user's
    LAST emission must equal the batch GROUP BY (state really accumulates),
    and earlier emissions must be partial (counts non-decreasing)."""
    from mapreduce_simulation_spark.streaming import stateful as st

    stream = sev.read_event_stream(spark, event_files, max_files_per_trigger=1)
    q = (
        st.user_rollup(stream)
        .writeStream.format("memory")
        .queryName("stateful_multi")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emissions = spark.table("stateful_multi").collect()

    batch = {
        r.user_id: r
        for r in spark.read.parquet(event_files)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("first_event_us"),
            F.unix_micros(F.max("ts")).alias("last_event_us"),
        )
        .collect()
    }

    # Per user: counts non-decreasing across emissions; final = batch truth.
    by_user: dict[int, list] = {}
    for r in emissions:
        by_user.setdefault(r.user_id, []).append(r)
    assert set(by_user) == set(batch)
    multi_emission_users = 0
    for uid, rows in by_user.items():
        counts = [r.n_events for r in rows]
        assert sorted(counts) == counts or len(set(counts)) == len(counts)
        final = max(rows, key=lambda r: r.n_events)
        truth = batch[uid]
        assert final.n_events == truth.n_events
        assert final.first_event_us == truth.first_event_us
        assert final.last_event_us == truth.last_event_us
        if len(rows) > 1:
            multi_emission_users += 1
    # The 4-file stream must actually have produced incremental updates.
    assert multi_emission_users > 0


def test_streaming_parquet_file_sink(spark, event_files, tmp_path):
    """Production sink shape: watermarked windowed aggregation → parquet
    file sink in append mode (only closed windows are written). Drain with
    availableNow, then read the files back and check every written window
    matches the batch answer for that window."""
    out = str(tmp_path / "win_sink")
    ckpt = str(tmp_path / "ckpt")
    stream = sev.read_event_stream(spark, event_files)
    q = (
        sev.windowed_counts(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    written = spark.read.parquet(out)
    batch = (
        spark.read.parquet(event_files)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )
    got = {(r.window_start, r.event_type): r.n_events for r in written.collect()}
    want = {(r.window_start, r.event_type): r.n_events for r in batch.collect()}
    # append mode emits only watermark-closed windows — subset, exact values
    assert 0 < len(got) <= len(want)
    for k, v in got.items():
        assert want[k] == v, (k, v, want[k])


def test_streaming_restart_from_checkpoint_exactly_once(
    spark, event_files, tmp_path
):
    """Kill a checkpointed file-sink query partway through the input, start
    a NEW query from the same checkpoint, and the final sink must contain
    every input row exactly once — the write-ahead-log + idempotent-sink
    contract that makes streaming restarts safe (the streaming face of the
    reference's task-replay fault tolerance, Q5)."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = sev.read_event_stream(spark, event_files, max_files_per_trigger=1)
        return (
            stream.select("event_id", "user_id", "event_type", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    # First run: stop after at least one micro-batch has committed.
    q1 = start()
    while not q1.recentProgress:
        import time

        time.sleep(0.2)
    q1.stop()
    q1.awaitTermination()
    partial = spark.read.parquet(out).count()

    # Restart from the same checkpoint: must resume, not re-emit.
    q2 = start()
    q2.awaitTermination()

    got = spark.read.parquet(out)
    want = spark.read.parquet(event_files)
    assert got.count() == want.count(), (partial, got.count(), want.count())
    assert got.select(F.count_distinct("event_id")).first()[0] == want.count()


def test_foreach_batch_idempotent_upsert_sink(spark, event_files, tmp_path):
    """foreachBatch — the production sink pattern for targets Spark has no
    native connector for: each micro-batch MERGEs per-user deltas into a
    keyed parquet target. The merge keys on user_id (last-writer-wins per
    batch, totals accumulated), and re-processing the SAME batch id is a
    no-op (idempotence via a recorded batch watermark), which is what
    makes foreachBatch + checkpoint exactly-once end-to-end."""
    import os

    target = str(tmp_path / "user_totals")
    applied: list[int] = []

    def upsert(batch_df, batch_id: int) -> None:
        if batch_id in applied:  # replay guard (idempotence)
            return
        applied.append(batch_id)
        sess = batch_df.sparkSession
        delta = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events")
        )
        if os.path.isdir(target) and any(
            f.startswith("part-") for f in os.listdir(target)
        ):
            cur = sess.read.parquet(target)
            merged = (
                cur.join(delta.withColumnRenamed("n_events", "d"), "user_id", "full")
                .select(
                    "user_id",
                    (
                        F.coalesce(F.col("n_events"), F.lit(0))
                        + F.coalesce(F.col("d"), F.lit(0))
                    ).alias("n_events"),
                )
            )
        else:
            merged = delta
        merged.cache().count()  # materialize before overwriting the input
        merged.write.mode("overwrite").parquet(target + ".next")
        sess.read.parquet(target + ".next").write.mode("overwrite").parquet(target)
        merged.unpersist()

    stream = sev.read_event_stream(spark, event_files)
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r["user_id"], r["n_events"])
        for r in spark.read.parquet(target).collect()
    }
    expect = {
        (r["user_id"], r["n_events"])
        for r in spark.read.parquet(event_files)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == expect
    assert len(applied) >= 1

    # replaying an already-applied batch id must not change the target
    first = spark.read.parquet(event_files)
    upsert(first, applied[0])
    again = {
        (r["user_id"], r["n_events"])
        for r in spark.read.parquet(target).collect()
    }
    assert again == got


def test_stream_stream_left_outer_join_emits_unmatched(
    spark, sf_dir, tmp_path
):
    """Stream-stream LEFT OUTER join: purchases with no click in the
    preceding 30 min must be emitted WITH NULL click columns — but only
    once the watermark proves no matching click can still arrive. A
    far-future sentinel batch (one click + one purchase) advances the
    watermark past every real event, so the emitted set equals the batch
    left-outer join over the real data."""
    stage = str(tmp_path / "outer_join_events")
    real = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    real.coalesce(1).write.mode("overwrite").parquet(stage)
    first = _data_files(stage)
    far = real.agg(
        F.max("ts").alias("m"), F.max("event_id").alias("e")
    ).collect()[0]
    sentinel = spark.createDataFrame(
        [
            (far["e"] + 1, "click"),
            (far["e"] + 2, "purchase"),
        ],
        "event_id bigint, event_type string",
    ).select(
        "event_id",
        (F.lit(far["m"]) + F.expr("INTERVAL 365 DAYS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        "event_type",
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    sentinel.coalesce(1).write.mode("append").parquet(stage)
    # file-source batch order = modification time: make the sentinel newest
    _force_mtime_after(stage, first)

    ev = sev.read_event_stream(spark, stage, max_files_per_trigger=1)
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    c = clicks.withWatermark("ts", sev.WATERMARK).select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", sev.WATERMARK).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    joined = p.join(
        c,
        [
            p["user_id"] == c["user_id"],
            c["click_ts"] <= p["purchase_ts"],
            c["click_ts"] >= p["purchase_ts"] - F.expr("INTERVAL 30 MINUTES"),
        ],
        "leftOuter",
    ).select("purchase_id", "click_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("outer_join_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.table("outer_join_stream").collect()
        if r["purchase_id"] != far["e"] + 2  # sentinel purchase
    }

    b = spark.read.parquet(stage)
    bc = b.where(
        (F.col("event_type") == "click") & (F.col("event_id") <= far["e"])
    ).select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    bp = b.where(
        (F.col("event_type") == "purchase") & (F.col("event_id") <= far["e"])
    ).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    want = {
        (r["purchase_id"], r["click_id"])
        for r in bp.join(
            bc,
            [
                bp["user_id"] == bc["user_id"],
                bc["click_ts"] <= bp["purchase_ts"],
                bc["click_ts"]
                >= bp["purchase_ts"] - F.expr("INTERVAL 30 MINUTES"),
            ],
            "leftOuter",
        )
        .select("purchase_id", "click_id")
        .collect()
    }
    assert got == want
    assert any(cid is None for _, cid in got), "no unmatched purchases emitted"


def test_rocksdb_state_store_provider(spark, event_files, tmp_path):
    """The production streaming state backend: RocksDBStateStoreProvider
    keeps per-key state off-heap and spillable (the default HDFS-backed
    store holds everything in executor memory — a scale ceiling at 100 TB
    key cardinalities). Same windowed aggregation, same answer, RocksDB
    underneath."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = sev.read_event_stream(spark, event_files)
        q = (
            sev.windowed_counts(stream)
            .writeStream.format("memory")
            .queryName("rocksdb_counts")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r.window_start, r.event_type): (r.n_events, r.sum_value)
            for r in spark.table("rocksdb_counts").collect()
        }
        want = {
            (r.window_start, r.event_type): (r.n_events, r.sum_value)
            for r in spark.read.parquet(event_files)
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                F.col("win.start").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
            .collect()
        }
        assert got == want
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_transform_with_state_rollup_parity(spark, sf_dir):
    """transformWithStateInPandas twin of the stateful rollup; asserts
    parity with the batch GROUP BY."""
    from pyspark.sql import functions as F

    from mapreduce_simulation_spark.streaming.stateful import (
        stateful_user_rollup_tws,
    )
    from mapreduce_simulation_spark.tables import load_table

    got = {
        r.user_id: (r.n_events, r.first_event_us, r.last_event_us)
        for r in stateful_user_rollup_tws(spark, sf_dir).collect()
    }
    want = {
        r.user_id: (r.n_events, r.first_event_us, r.last_event_us)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("first_event_us"),
            F.unix_micros(F.max("ts")).alias("last_event_us"),
        )
        .collect()
    }
    assert got == want


def test_tws_processor_logic_matches_oracle_without_protobuf(spark, sf_dir):
    """The TWS twin's semantics, verified WITHOUT the protobuf wire
    protocol: this container cannot run transformWithStateInPandas (no
    google.protobuf, installs prohibited — recorded in PLANS.md), so the
    engine-independent part is pinned instead. _RollupProcessor's
    handleInputRows is driven directly with a stub ValueState handle over
    the REAL events table, split across three simulated micro-batches
    with carried state (the exact state lifecycle the engine provides),
    and the final emissions must equal the batch GROUP BY — the same
    oracle stateful_user_rollup_tws declares. What this cannot cover is
    the protobuf state-protocol transport itself; that is exercised by
    test_transform_with_state_rollup_parity wherever protobuf exists."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mapreduce_simulation_spark.streaming.stateful import (
        _RollupProcessor,
    )
    from mapreduce_simulation_spark.tables import load_table

    class _FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class _FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            return self.states.setdefault(name, _FakeValueState())

    events = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts")
        .toPandas()
        .sort_values(["ts", "user_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    # three micro-batches in event-time order, state carried in between
    cuts = [len(events) // 3, 2 * len(events) // 3, len(events)]
    handles: dict[int, _RollupProcessor] = {}
    final: dict[int, tuple] = {}
    lo = 0
    for hi in cuts:
        batch = events.iloc[lo:hi]
        lo = hi
        for user_id, grp in batch.groupby("user_id"):
            proc = handles.get(user_id)
            if proc is None:
                proc = _RollupProcessor()
                proc.init(_FakeHandle())
                handles[user_id] = proc
            # split each user's batch rows into two pdfs to exercise the
            # multi-chunk iterator path
            half = max(1, len(grp) // 2)
            pdfs = [grp.iloc[:half], grp.iloc[half:]]
            (out,) = proc.handleInputRows((user_id,), iter(pdfs), None)
            final[user_id] = (
                int(out["n_events"][0]),
                int(out["first_event_us"][0]),
                int(out["last_event_us"][0]),
            )
    want = {
        r.user_id: (r.n_events, r.first_event_us, r.last_event_us)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("first_event_us"),
            F.unix_micros(F.max("ts")).alias("last_event_us"),
        )
        .collect()
    }
    assert final == want


def test_custom_stream_restart_resumes_exactly_once(spark, sf_dir, tmp_path):
    """Kill-and-restart recovery across the CUSTOM source/sink pair: the
    first query run drains the log's first half and is stopped; more
    files are appended (the source's tailing contract); a second run with
    the SAME checkpoint must resume from the committed row-group offset
    and process ONLY the appended data — and the sink files must hold
    every input row EXACTLY once, the joint contract of deterministic
    offset replay (source) and (batchId, partitionId)-keyed idempotent
    commits (sink)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from mapreduce_simulation_spark.sources.eventlog_stream import (
        register_eventlog_stream,
    )
    from mapreduce_simulation_spark.sources.kvtext import register_kvtext
    from mapreduce_simulation_spark.tables import load_table

    register_eventlog_stream(spark)
    register_kvtext(spark)
    staged = str(tmp_path / "staged")
    stage = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, sf_dir, "events")
    n_total = events.count()
    events.repartitionByRange(4, "ts").write.mode("overwrite").parquet(staged)
    files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    assert len(files) == 4
    os.makedirs(stage)
    # first half of the log, named so later appends sort after
    for i, f in enumerate(files[:2]):
        shutil.copy(os.path.join(staged, f), os.path.join(stage, f"a{i}.parquet"))

    def start():
        return (
            spark.readStream.format("eventlog_stream")
            .load(stage)
            .select(
                F.col("event_id").cast("string").alias("key"),
                F.col("event_type").alias("value"),
            )
            .writeStream.format("kvtext")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    q1.awaitTermination()
    manifest = os.path.join(out, "_batches")
    assert os.path.exists(manifest), "first run committed no batch"
    n_half = spark.read.format("kvtext").load(out).count()
    assert 0 < n_half < n_total

    # Append the second half, then restart from the same checkpoint.
    for i, f in enumerate(files[2:]):
        shutil.copy(os.path.join(staged, f), os.path.join(stage, f"b{i}.parquet"))
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    back = spark.read.format("kvtext").load(out)
    assert back.count() == n_total  # every row exactly once
    assert back.select("key").distinct().count() == n_total
    # the work landed in ≥2 distinct committed batches across the runs
    with open(manifest) as fh:
        assert len({line.strip() for line in fh if line.strip()}) >= 2


def test_custom_source_rollup_is_incremental_across_batches(
    spark, sf_dir, tmp_path
):
    """streaming_custom_source_rollup's mechanics driven through ≥2 LIVE
    micro-batches of ONE query (not a restart): the query drains half the
    log, more files are appended while it runs (the source's tailing
    contract), and the second drain must process ONLY the appended row
    groups — asserted from the engine's own progress telemetry — while
    the complete-mode aggregate converges to the batch GROUP BY."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from mapreduce_simulation_spark.sources.eventlog_stream import (
        register_eventlog_stream,
    )
    from mapreduce_simulation_spark.tables import load_table

    register_eventlog_stream(spark)
    staged = str(tmp_path / "staged")
    stage = str(tmp_path / "in")
    events = load_table(spark, sf_dir, "events")
    n_total = events.count()
    events.repartitionByRange(4, "ts").write.mode("overwrite").parquet(staged)
    files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    os.makedirs(stage)
    for i, f in enumerate(files[:2]):
        shutil.copy(os.path.join(staged, f), os.path.join(stage, f"a{i}.parquet"))

    agg = (
        spark.readStream.format("eventlog_stream")
        .load(stage)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("rollup_incr")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        n_half = sum(
            r["n_events"] for r in spark.table("rollup_incr").collect()
        )
        assert 0 < n_half < n_total
        for i, f in enumerate(files[2:]):
            shutil.copy(
                os.path.join(staged, f), os.path.join(stage, f"b{i}.parquet")
            )
        q.processAllAvailable()
        progressed = [
            p for p in q.recentProgress if p["numInputRows"] > 0
        ]
        # ≥2 data-bearing micro-batches within one live query
        assert len(progressed) >= 2, [
            (p["batchId"], p["numInputRows"]) for p in q.recentProgress
        ]
        # second batch carried ONLY the appended rows
        assert sum(p["numInputRows"] for p in progressed) == n_total
    finally:
        q.stop()
    got = {
        r["event_type"]: r["n_events"]
        for r in spark.table("rollup_incr").collect()
    }
    want = {
        r["event_type"]: r["n_events"]
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == want


def test_kvtext_sink_replayed_batch_is_exactly_once(spark, sf_dir, tmp_path):
    """A batch REPLAYED by the engine itself lands exactly once: after a
    full drain the last batch's commit marker is deleted from the
    checkpoint (the crash window between sink commit and engine commit),
    so a restart re-executes that batch through KVTextStreamWriter.commit
    with fresh attempt ids — the idempotent (batchId, partitionId) file
    names and manifest append must absorb the replay with zero duplicate
    rows and no duplicate manifest line."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from mapreduce_simulation_spark.sources.eventlog_stream import (
        register_eventlog_stream,
    )
    from mapreduce_simulation_spark.sources.kvtext import register_kvtext
    from mapreduce_simulation_spark.tables import load_table

    register_eventlog_stream(spark)
    register_kvtext(spark)
    staged = str(tmp_path / "staged")
    stage = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, sf_dir, "events")
    n_total = events.count()
    events.repartitionByRange(4, "ts").write.mode("overwrite").parquet(staged)
    files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    os.makedirs(stage)
    for i, f in enumerate(files):
        shutil.copy(os.path.join(staged, f), os.path.join(stage, f"a{i}.parquet"))

    def start():
        return (
            spark.readStream.format("eventlog_stream")
            .load(stage)
            .select(
                F.col("event_id").cast("string").alias("key"),
                F.col("event_type").alias("value"),
            )
            .writeStream.format("kvtext")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    assert spark.read.format("kvtext").load(out).count() == n_total
    with open(os.path.join(out, "_batches")) as fh:
        manifest_before = fh.read()

    # Simulate the crash window: sink committed, engine commit lost.
    # (The hidden .crc sibling must go too — a leftover checksum makes the
    # checkpoint manager's atomic rename fail as a concurrent-use error.)
    commits_dir = os.path.join(ckpt, "commits")
    commits = sorted(
        f for f in os.listdir(commits_dir) if not f.startswith(".")
    )
    os.remove(os.path.join(commits_dir, commits[-1]))
    crc = os.path.join(commits_dir, f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    q2 = start()  # replays the uncommitted last batch
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    back = spark.read.format("kvtext").load(out)
    assert back.count() == n_total  # replay absorbed, zero duplicates
    assert back.select("key").distinct().count() == n_total
    with open(os.path.join(out, "_batches")) as fh:
        assert fh.read() == manifest_before  # no duplicate manifest line


def _gate_dup_bands(spark, src, out):
    """Drain the single-file parquet stream ``src`` one file per
    micro-batch through the registered band-index gate into ``out``.
    Returns ({doc_id: number of dup bands}, number of verdict deltas)."""
    import os

    from mapreduce_simulation_spark.streaming.stateful import (
        band_index_gate_drain,
    )

    verdict_root = band_index_gate_drain(
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        out,
    )
    rows = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(verdict_root)
        .groupBy("doc_id")
        .agg(F.sum("dup").alias("dup_bands"))
        .collect()
    )
    n_deltas = sum(
        1 for d in os.listdir(verdict_root) if d.startswith("delta_")
    )
    return {r.doc_id: r.dup_bands for r in rows}, n_deltas


def test_minhash_gate_carries_state_across_batches(spark, tmp_path):
    """The ingestion gate's value is CROSS-batch dedup: a batch-2 document
    duplicating a batch-1 document must be flagged from the claims batch 1
    committed, not from anything in its own batch. Two single-file
    micro-batches via maxFilesPerTrigger=1; doc 30 copies doc 10's text
    (all 8 bands shared), doc 40 is distinct."""
    dup_text = "the quick brown fox jumps over the lazy dog again and again"
    uniq = "completely different words appear in this other document body"
    batch1 = spark.createDataFrame(
        [(10, dup_text), (20, "some middling unrelated text goes right here")],
        "doc_id bigint, text string",
    )
    batch2 = spark.createDataFrame(
        [(30, dup_text), (40, uniq)], "doc_id bigint, text string"
    )
    src = str(tmp_path / "gate_src")
    batch1.coalesce(1).write.mode("overwrite").parquet(src)
    first = _data_files(src)
    batch2.coalesce(1).write.mode("append").parquet(src)
    # trigger order is by mod time — force batch2 strictly after batch1
    _force_mtime_after(src, first)

    got, n_deltas = _gate_dup_bands(spark, src, str(tmp_path / "gate_out"))
    assert n_deltas == 2  # one verdict delta per micro-batch
    assert got[10] == 0  # bucket owner — never flagged
    assert got[20] == 0 and got[40] == 0  # no shared buckets
    assert got[30] == 8  # identical text → all 8 bands hit batch-1 claims


def test_streaming_shard_ingest_multibatch_manifest_parity(spark, sf_dir):
    """The streaming export must (a) actually run multiple micro-batches
    (4 range-split input files × maxFilesPerTrigger=1), and (b) produce a
    manifest whose per-shard counts, token sums, and mod-P checksums equal
    the one-shot batch aggregation over the corpus — the partials-compose
    property that makes the batch-keyed delta design exactly-once."""
    import os

    from mapreduce_simulation_spark import staging
    from mapreduce_simulation_spark.functions.hashing import P
    from mapreduce_simulation_spark.operators.text import tokens
    from mapreduce_simulation_spark.streaming.stateful import (
        streaming_shard_ingest,
    )

    got = {
        r.shard_id: (r.n_docs, r.n_tokens, r.checksum)
        for r in streaming_shard_ingest(spark, sf_dir).collect()
    }
    # the staged input must split into ≥2 files → ≥2 micro-batches
    stage = staging._KEYED[("documents_stream_", f"split=doc_id|sf={sf_dir}")]
    assert os.path.isdir(stage)  # the query call above staged it
    n_files = sum(
        1 for f in os.listdir(stage) if f.endswith(".parquet")
    )
    assert n_files >= 2

    batch = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        )
        .groupBy(F.pmod("doc_id", F.lit(16)).alias("shard_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.pmod(
                F.sum(F.pmod(F.col("doc_id") * F.col("n_tokens"), F.lit(P))),
                F.lit(P),
            ).alias("checksum"),
        )
    )
    want = {
        r.shard_id: (r.n_docs, r.n_tokens, r.checksum)
        for r in batch.collect()
    }
    assert got == want and len(got) == 16


def test_streaming_scorer_equals_batch_scorer(spark, sf_dir):
    """Online inference ≡ offline inference: draining the streaming
    scorer over the staged corpus must produce row-for-row the batch
    scoring pass (same staged weights, same feature arithmetic) — the
    guarantee that lets a deployment score at ingestion without a
    nightly re-score drifting away."""
    from mapreduce_simulation_spark.operators.mltrain import (
        logreg_score_corpus,
        streaming_logreg_score,
    )

    batch = {
        r.doc_id: (r.score6, r.predicted, r.correct)
        for r in logreg_score_corpus(spark, sf_dir).collect()
    }
    stream = {
        r.doc_id: (r.score6, r.predicted, r.correct)
        for r in streaming_logreg_score(spark, sf_dir).collect()
    }
    assert stream == batch and len(batch) > 0


def test_streaming_lsh_serve_equals_batch_topk(spark, sf_dir):
    """Online ANN serving ≡ batch ANN: draining the streamed query block
    against the staged multi-table LSH index must produce the batch
    lsh_topk result bit-for-bit (same staged index, same probe →
    pair-dedup → exact re-score → rank plan per micro-batch; per-query
    top-k is independent across queries, so the union over micro-batches
    is the batch answer). The query stream is range-split into 5 files
    with maxFilesPerTrigger=1, so the drain genuinely crosses
    micro-batch boundaries."""
    from mapreduce_simulation_spark.operators.similarity import (
        lsh_topk,
        streaming_lsh_serve,
    )

    batch = {
        (r.query_id, r.rk): (r.neighbor_id, r.cosine)
        for r in lsh_topk(spark, sf_dir).collect()
    }
    stream = {
        (r.query_id, r.rk): (r.neighbor_id, r.cosine)
        for r in streaming_lsh_serve(spark, sf_dir).collect()
    }
    assert stream == batch and len(batch) > 0


def test_streaming_lsh_serve_survives_index_restaging(
    spark, sf_dir, monkeypatch
):
    """Serve under re-staging (r16 verdict item 6): an index REBUILD
    landing between micro-batches must be invisible to the drain.
    read_staged guards its per-session DataFrame cache with the staged
    dir's entry signature (each part's mtime_ns + size), and rebuilds
    land via write-to-tmp + os.rename — so a serve that starts after the
    swap re-reads the new files and, the rebuild being value-identical,
    keeps producing the batch answer. This test makes that argument
    evidence: mid-drain (3rd micro-batch of 5) it replays the rebuild
    protocol on the staged narrow index — same rows, different file
    layout (coalesced to 1 part), rmtree + rename swap — and asserts the
    drained union still equals batch lsh_topk exactly."""
    import os
    import shutil

    from mapreduce_simulation_spark import staging
    from mapreduce_simulation_spark.operators import similarity as sim

    # first-touch the staged index so the swap targets the real artifact
    corpus = sim._corpus_with_norm(spark, sf_dir)
    sim._staged_multitable_signatures(spark, sf_dir, corpus)
    root = staging._KEYED[
        (
            "lsh_mt_sigs_",
            f"{sf_dir}|mt{sim.N_LSH_TABLES}x{sim.N_HYPERPLANES}_full_v1",
        )
    ]
    final = os.path.join(root, "sigs")
    assert os.path.isdir(root) and os.path.isdir(final)

    batch = {
        (r.query_id, r.rk): (r.neighbor_id, r.cosine)
        for r in sim.lsh_topk(spark, sf_dir).collect()
    }

    real_serve = sim._lsh_serve
    calls = {"n": 0}

    def serve_with_midway_rebuild(sp, sd, query_ids=None, **kw):
        calls["n"] += 1
        if calls["n"] == 3:
            # the rebuild protocol: write the same index to a tmp dir in
            # a different layout, then swap it in
            rebuilt = sp.read.parquet(final).coalesce(1)
            tmp = os.path.join(root, "_tmp_rebuild")
            rebuilt.write.mode("overwrite").parquet(tmp)
            shutil.rmtree(final)
            os.rename(tmp, final)
        return real_serve(sp, sd, query_ids=query_ids, **kw)

    monkeypatch.setattr(sim, "_lsh_serve", serve_with_midway_rebuild)
    stream = {
        (r.query_id, r.rk): (r.neighbor_id, r.cosine)
        for r in sim.streaming_lsh_serve(spark, sf_dir).collect()
    }
    assert calls["n"] >= 3, "drain did not cross the rebuild point"
    assert stream == batch and len(batch) > 0


def test_shard_ingest_replayed_batch_is_exactly_once(spark, sf_dir, tmp_path):
    """Crash-replay the shard export: drain with an explicit checkpoint,
    delete the last engine commit (sink committed, commit lost — the
    classic crash window), restart. The replayed batch must rewrite
    IDENTICAL data and manifest bytes at identical batch-keyed paths —
    total doc counts across batch dirs unchanged, manifest rollup
    unchanged — proving the overwrite design is exactly-once without a
    transaction log."""
    import os

    from mapreduce_simulation_spark.streaming.stateful import (
        make_ingest_batch_fn,
    )

    src = str(tmp_path / "src")
    load_table(spark, sf_dir, "documents").repartitionByRange(
        4, "doc_id"
    ).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(src).schema

    def drain():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(make_ingest_batch_fn(out, manifest))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def snapshot():
        data = spark.read.option("basePath", out).parquet(
            f"{out}/batch=*"
        )
        man = spark.read.option("basePath", manifest).parquet(
            f"{manifest}/batch=*"
        )
        return (
            data.count(),
            sorted(
                (r.shard_id, r.n_docs, r.n_tokens, r.checksum)
                for r in man.groupBy("shard_id")
                .agg(
                    F.sum("n_docs").alias("n_docs"),
                    F.sum("n_tokens").alias("n_tokens"),
                    F.sum("checksum").alias("checksum"),
                )
                .collect()
            ),
        )

    drain()
    before = snapshot()
    n_docs_total = load_table(spark, sf_dir, "documents").count()
    assert before[0] == n_docs_total

    # crash window: drop the newest engine commit so the last batch replays
    commits_dir = os.path.join(ckpt, "commits")
    commits = sorted(
        f for f in os.listdir(commits_dir) if not f.startswith(".")
    )
    os.remove(os.path.join(commits_dir, commits[-1]))
    crc = os.path.join(commits_dir, f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    drain()  # replays the uncommitted batch
    assert snapshot() == before  # same rows, same manifest — no dupes


def test_minhash_gate_occupied_bucket_flags_lower_id(spark, tmp_path):
    """Occupancy semantics: a LOWER doc_id arriving in a later micro-batch
    into an occupied bucket is still flagged dup — the first kept doc owns
    the bucket. A cross-batch min-id rule would emit both the earlier kept
    doc (already committed) and the later lower-id doc as dup=0, so a
    keep-if-not-dup consumer would retain two near-duplicates."""
    dup_text = "the quick brown fox jumps over the lazy dog again and again"
    batch1 = spark.createDataFrame(
        [(50, dup_text)], "doc_id bigint, text string"
    )
    batch2 = spark.createDataFrame(
        [(10, dup_text)], "doc_id bigint, text string"
    )
    src = str(tmp_path / "gate_src_lowid")
    batch1.coalesce(1).write.mode("overwrite").parquet(src)
    first = _data_files(src)
    batch2.coalesce(1).write.mode("append").parquet(src)
    _force_mtime_after(src, first)

    got, n_deltas = _gate_dup_bands(
        spark, src, str(tmp_path / "gate_out_lowid")
    )
    assert n_deltas == 2
    assert got[50] == 0  # first occupant keeps the bucket
    assert got[10] == 8  # later lower id flagged in every shared band


def _multibatch_doc_stage(spark, tmp_path, name):
    """Three single-file micro-batches with cross-batch duplicate
    structure: doc 30 (batch 2) copies doc 10 (batch 1); doc 55 (batch 3)
    copies doc 20 (batch 1); docs 40/60 are distinct; doc 12 near-dups
    doc 10 WITHIN batch 1 (intra-batch min-wins case)."""
    dup_a = "the quick brown fox jumps over the lazy dog again and again"
    dup_b = "pack my box with five dozen liquor jugs every single day"
    rows = [
        [(10, dup_a), (12, dup_a), (20, dup_b)],
        [(30, dup_a), (40, "completely different words appear in this")],
        [(55, dup_b), (60, "unrelated closing text body for the stream")],
    ]
    src = str(tmp_path / name)
    seen: set[str] = set()
    for batch in rows:
        df = spark.createDataFrame(batch, "doc_id bigint, text string")
        df.coalesce(1).write.mode("append").parquet(src)
        if seen:
            _force_mtime_after(src, seen)
        seen = _data_files(src)
    return src


def test_band_index_gate_multibatch_verdicts(spark, tmp_path):
    """The band-index gate (the registered ingest path) over a three-batch
    stream with cross-batch copies and an intra-batch near-dup: the first
    batch to touch a bucket keeps its batch-global minimum, later arrivals
    are flagged, and each micro-batch commits one verdict delta."""
    src = _multibatch_doc_stage(spark, tmp_path, "gate_multi_src")
    by_doc, n_deltas = _gate_dup_bands(
        spark, src, str(tmp_path / "gate_multi_out")
    )
    # the cross-batch structure actually fired: copies flagged in all
    # 8 bands, intra-batch near-dup flagged, originals kept
    assert by_doc[10] == 0 and by_doc[20] == 0
    assert by_doc[30] == 8 and by_doc[55] == 8 and by_doc[12] == 8
    # and the drain really ran one micro-batch per file (3 verdict deltas)
    assert n_deltas == 3


def test_band_index_gate_drain_refuses_lost_checkpoint(spark, tmp_path):
    """Checkpoint loss is injected, not argued: after a drain, deleting
    `ckpt` would restart batch ids at 0 against committed verdict deltas,
    and every batch would be skipped as a replay (stale verdicts). The
    drain must refuse instead. With the checkpoint intact, draining the
    same out_root again stays a no-op."""
    import os
    import shutil

    from mapreduce_simulation_spark.streaming.stateful import (
        band_index_gate_drain,
    )

    src = _multibatch_doc_stage(spark, tmp_path, "lost_ckpt_src")
    out = str(tmp_path / "lost_ckpt_out")

    def drain():
        return band_index_gate_drain(
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            out,
        )

    ver = drain()
    committed = sorted(os.listdir(ver))
    assert committed == ["delta_00000", "delta_00001", "delta_00002"]
    drain()  # intact checkpoint: nothing new, nothing re-gated
    assert sorted(os.listdir(ver)) == committed
    shutil.rmtree(os.path.join(out, "ckpt"))
    with pytest.raises(RuntimeError, match="checkpoint .* was lost"):
        drain()
    assert sorted(os.listdir(ver)) == committed


def _gate_batches(spark):
    """Three banded micro-batches for the band-index gate's crash tests:
    batch 2 repeats the texts of batches 0 and 1 under new ids, so its
    verdicts depend on the claims of both earlier batches."""
    from mapreduce_simulation_spark.operators.dedup import (
        narrow_minhash_bands_arrow,
    )

    t_a = "the quick brown fox jumps over the lazy dog again and again"
    t_b = "pack my box with five dozen liquor jugs every single day"
    return [
        narrow_minhash_bands_arrow(
            spark.createDataFrame(rows, "doc_id bigint, text string")
        )
        for rows in (
            [(10, t_a)],
            [(20, t_b)],
            [(30, t_a), (40, t_b), (50, "its own fresh sentence here")],
        )
    ]


def _gate_verdicts(spark, root):
    import os

    return {
        (r.doc_id, r.band): r.dup
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(os.path.join(root, "verdicts"))
        .collect()
    }


def _truncate_parts(path):
    """Turn a complete parquet dir into a partial write: no success
    marker, every part file cut short."""
    import os

    for f in os.listdir(path):
        if f == "_SUCCESS":
            os.remove(os.path.join(path, f))
        elif f.startswith("part-"):
            with open(os.path.join(path, f), "r+b") as fh:
                fh.truncate(10)


def _crash_on(monkeypatch, module, name, match):
    """Make ``module.name`` raise once for a path argument ending in
    ``match`` — the injected crash."""
    real = getattr(module, name)

    def crash(*args, **kwargs):
        if str(args[-1]).rstrip("/").endswith(match):
            raise OSError(f"injected crash at {name} {args[-1]}")
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, crash)


def test_band_index_gate_batch_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract of the foreachBatch body: a committed batch
    (verdict delta present) is a no-op on replay."""
    import os

    from mapreduce_simulation_spark.operators.dedup import (
        narrow_minhash_bands_arrow,
    )
    from mapreduce_simulation_spark.streaming.stateful import (
        _band_index_gate_batch,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "entirely different sentence with its own token set"),
        ],
        "doc_id bigint, text string",
    )
    banded = narrow_minhash_bands_arrow(docs)
    root = str(tmp_path / "gate_replay")
    _band_index_gate_batch(banded, 0, root)
    want = _gate_verdicts(spark, root)
    assert sum(d for _k, d in want.items()) == 8  # doc 2 flagged, 8 bands
    _band_index_gate_batch(banded, 0, root)
    assert _gate_verdicts(spark, root) == want
    assert os.listdir(os.path.join(root, "verdicts")) == ["delta_00000"]


def test_band_index_gate_crash_before_commit_rename(
    spark, tmp_path, monkeypatch
):
    """A crash between the verdict write and its commit rename leaves a
    partial ``verdicts/_tmp_<id>``. Readers of the verdict log must ignore
    it, and the replay must commit verdicts identical to a crash-free
    run."""
    import os

    from mapreduce_simulation_spark.streaming.stateful import (
        _band_index_gate_batch,
    )

    banded = _gate_batches(spark)
    ref = str(tmp_path / "ref")
    for i, b in enumerate(banded):
        _band_index_gate_batch(b, i, ref)
    want = _gate_verdicts(spark, ref)
    assert sum(d for (doc, _b), d in want.items() if doc == 30) == 8

    root = str(tmp_path / "crash")
    _band_index_gate_batch(banded[0], 0, root)
    _band_index_gate_batch(banded[1], 1, root)
    _crash_on(monkeypatch, os, "rename", "delta_00002")
    with pytest.raises(OSError, match="injected crash"):
        _band_index_gate_batch(banded[2], 2, root)
    monkeypatch.undo()
    ver = os.path.join(root, "verdicts")
    _truncate_parts(os.path.join(ver, "_tmp_00002"))
    assert _gate_verdicts(spark, root) == {
        k: d for k, d in want.items() if k[0] in (10, 20)
    }
    _band_index_gate_batch(banded[2], 2, root)  # the replay
    assert _gate_verdicts(spark, root) == want
    assert sorted(os.listdir(ver)) == [
        "delta_00000",
        "delta_00001",
        "delta_00002",
    ]


def test_band_index_compaction_preserves_gate_state(spark, tmp_path):
    """compact_band_index folds the claims into one base without changing
    the claim set. Called after batch 0, batch 2 reads the base plus batch
    1's delta; fired by the batch body at threshold 2, batch 2 reads the
    base alone. Both give verdicts identical to the uncompacted run, and
    the verdict log is untouched."""
    import os

    from mapreduce_simulation_spark.streaming.stateful import (
        _band_index_gate_batch,
        compact_band_index,
    )

    banded = _gate_batches(spark)

    def drive(root, compact_after=None, threshold=16):
        folded = 0
        for i, b in enumerate(banded):
            _band_index_gate_batch(b, i, root, threshold)
            if i == compact_after:
                folded = compact_band_index(spark, root)
        return folded, _gate_verdicts(spark, root)

    want = drive(str(tmp_path / "plain"))[1]
    # docs 30/40 flagged in all 8 bands from the earlier batches' claims
    flagged = {}
    for (d, _b), dup in want.items():
        flagged[d] = flagged.get(d, 0) + dup
    assert flagged[30] == 8 and flagged[40] == 8 and flagged[50] == 0
    direct, auto = str(tmp_path / "direct"), str(tmp_path / "auto")
    assert drive(direct, compact_after=0) == (1, want)
    assert drive(auto, threshold=2) == (0, want)
    for root, base in ((direct, "base_00000"), (auto, "base_00001")):
        assert os.listdir(os.path.join(root, "index")) == [base]
        assert sorted(os.listdir(os.path.join(root, "verdicts"))) == [
            "delta_00000",
            "delta_00001",
            "delta_00002",
        ]


def test_band_index_compaction_crash_keeps_gate_state(
    spark, tmp_path, monkeypatch
):
    """A crash inside compaction, at its two points: (a) before the base
    rename, leaving a partial ``index/_tmp_compact``; (b) after the
    rename, before the older base is deleted, leaving two bases. Either
    way the next batch's verdicts equal those of an uncompacted run, and
    the next compaction leaves one base."""
    import os
    import shutil

    from mapreduce_simulation_spark.streaming.stateful import (
        _band_index_gate_batch,
        compact_band_index,
    )

    banded = _gate_batches(spark)
    ref = str(tmp_path / "ref")
    for i, b in enumerate(banded):
        _band_index_gate_batch(b, i, ref)
    want = _gate_verdicts(spark, ref)

    # (a) crash before the rename: the partial tmp dir is never read
    root = str(tmp_path / "crash_rename")
    idx = os.path.join(root, "index")
    _band_index_gate_batch(banded[0], 0, root)
    _band_index_gate_batch(banded[1], 1, root)
    _crash_on(monkeypatch, os, "rename", "base_00001")
    with pytest.raises(OSError, match="injected crash"):
        compact_band_index(spark, root)
    monkeypatch.undo()
    _truncate_parts(os.path.join(idx, "_tmp_compact"))
    _band_index_gate_batch(banded[2], 2, root)
    assert _gate_verdicts(spark, root) == want
    assert compact_band_index(spark, root) == 3
    assert os.listdir(idx) == ["base_00002"]

    # (b) crash after the rename: an older base survives beside the newer
    root = str(tmp_path / "crash_delete")
    idx = os.path.join(root, "index")
    _band_index_gate_batch(banded[0], 0, root)
    assert compact_band_index(spark, root) == 1
    _band_index_gate_batch(banded[1], 1, root)
    _crash_on(monkeypatch, shutil, "rmtree", "base_00000")
    with pytest.raises(OSError, match="injected crash"):
        compact_band_index(spark, root)
    monkeypatch.undo()
    assert sorted(os.listdir(idx)) == ["base_00000", "base_00001"]
    _band_index_gate_batch(banded[2], 2, root)
    assert _gate_verdicts(spark, root) == want
    assert compact_band_index(spark, root) == 1
    assert os.listdir(idx) == ["base_00002"]


def test_streaming_lsh_index_ingest_equals_batch_census(spark, sf_dir):
    """Online ≡ offline for the index monitor: the census rolled up from
    the per-batch occupancy deltas must be ROW-IDENTICAL to batch
    lsh_index_stats (occupancy merge is sum — associative/commutative),
    asserting the drain produced multiple delta batches (4 range-split
    files × maxFilesPerTrigger=1) and that every delta is bounded by the
    bucket space — the property that makes the monitor's state
    corpus-independent. A re-drain must yield the same census."""
    from conftest import delta_batch_dirs
    from mapreduce_simulation_spark.operators.similarity import (
        N_LSH_TABLES,
        lsh_index_stats,
        streaming_lsh_index_ingest,
    )

    df = streaming_lsh_index_ingest(spark, sf_dir)
    online = [tuple(r) for r in df.collect()]
    offline = [tuple(r) for r in lsh_index_stats(spark, sf_dir).collect()]
    assert online == offline and len(online) == N_LSH_TABLES

    batches = delta_batch_dirs(df)
    assert batches  # the query call above created the log
    assert len(batches) > 1, f"expected multi-batch drain, got {batches}"
    for b in batches:
        n = spark.read.parquet(b).count()
        assert n <= N_LSH_TABLES * 256, (b, n)

    # replay: a second drain yields the same census
    again = [
        tuple(r)
        for r in streaming_lsh_index_ingest(spark, sf_dir).collect()
    ]
    assert again == online


def test_streaming_hll_ingest_equals_batch_sketch(spark):
    """Online ≡ offline for the sketch family: the multi-batch delta-log
    rollup must be ROW-IDENTICAL (including the float estimates) to the
    same estimator computed in one batch pass — the max-merge/sum-merge
    associativity the sketch-table pattern rests on. Also asserts the
    drain actually produced multiple delta batches (4 range-split files ×
    maxFilesPerTrigger=1), so the equality exercises real merging."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from mapreduce_simulation_spark.functions import hll as H
    from mapreduce_simulation_spark.streaming.stateful import (
        streaming_hll_sketch_ingest,
    )
    from mapreduce_simulation_spark.tables import load_table

    df = streaming_hll_sketch_ingest(spark, SF_DIR)
    online = [tuple(r) for r in df.collect()]

    # the drain really produced multiple delta batches — without this the
    # online≡offline equality could silently stop exercising real
    # multi-batch merging if staging ever collapsed to one file (r11
    # advice: the docstring claimed this assertion; now it exists)
    from conftest import delta_batch_dirs

    batches = delta_batch_dirs(df)
    assert batches  # the query call above created the log
    n_deltas = len(batches)
    assert n_deltas > 1, f"expected multi-batch drain, got {n_deltas} delta"

    ev = load_table(spark, SF_DIR, "events")
    reg, rho = H.hll_register_cols("user_id")
    state = (
        ev.select(F.to_date("ts").alias("day"), reg.alias("reg"), rho.alias("rho"))
        .groupBy("day", "reg")
        .agg(F.max("rho").alias("maxrho"), F.count(F.lit(1)).alias("n_rows"))
    )
    offline = [
        tuple(r)
        for r in H.hll_group_estimate(
            state, ["day"], spark, extra_sums={"n_events": "n_rows"}
        )
        .select("day", "n_events", F.col("approx").alias("approx_users"))
        .orderBy("day")
        .collect()
    ]
    assert online == offline and len(online) > 0


def test_tws_mapstate_rollup_parity(spark, sf_dir):
    """MapState surface of transformWithState (r13): the per-user
    per-event-type rollup read BACK from the state handle must equal the
    batch GROUP BY — the store round trip (updateValue/getValue/iterator
    through the state protocol) is what's under test."""
    from pyspark.sql import functions as F

    from mapreduce_simulation_spark.streaming.stateful import (
        stateful_user_type_rollup_tws,
    )
    from mapreduce_simulation_spark.tables import load_table

    got = {
        (r.user_id, r.event_type): (
            r.n_events,
            r.min_event_id,
            r.max_event_id,
        )
        for r in stateful_user_type_rollup_tws(spark, sf_dir).collect()
    }
    want = {
        (r.user_id, r.event_type): (
            r.n_events,
            r.min_event_id,
            r.max_event_id,
        )
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .collect()
    }
    assert got == want


def test_tws_liststate_delta_log_parity(spark, sf_dir):
    """ListState surface of transformWithState (r13): per-user append-only
    partial-aggregate log folded at emission must equal the batch GROUP BY
    whatever the Arrow chunking (order-insensitive folds)."""
    from pyspark.sql import functions as F

    from mapreduce_simulation_spark.streaming.stateful import (
        stateful_user_delta_log_tws,
    )
    from mapreduce_simulation_spark.tables import load_table

    got = {
        r.user_id: (r.n_events, r.n_purchases, r.min_event_id, r.max_event_id)
        for r in stateful_user_delta_log_tws(spark, sf_dir).collect()
    }
    want = {
        r.user_id: (r.n_events, r.n_purchases, r.min_event_id, r.max_event_id)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("n_purchases"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .collect()
    }
    assert got == want


def test_containment_gate_carries_state_across_batches(spark, tmp_path):
    """The containment gate's cross-batch contract, mirrored from the
    MinHash gate test: a batch-2 document whose text CONTAINS a batch-1
    document whole must be flagged from the persisted anchor state — the
    asymmetric case the width-1 anchors exist for (for full containment
    A ⊆ B with A arriving first, every anchor of B that lands in the
    shared region equals A's anchor, so on this constructed pair all m
    anchors hit). A distinct doc must pass clean; the batch-1 docs are
    bucket minima and never flag."""
    import pyspark.sql.functions as F

    from mapreduce_simulation_spark.operators.dedup import (
        CONTAIN_ANCHORS,
        narrow_containment_anchors_arrow,
    )
    from mapreduce_simulation_spark.streaming.stateful import (
        band_index_gate_drain,
    )

    short = "the quick brown fox jumps over the lazy dog again and again"
    containing = short  # identical set ⊇ short — all anchors shared
    uniq = "completely different words appear in this other document body"
    batch1 = spark.createDataFrame(
        [(10, short), (20, "some middling unrelated text goes right here")],
        "doc_id bigint, text string",
    )
    batch2 = spark.createDataFrame(
        [(30, containing), (40, uniq)], "doc_id bigint, text string"
    )
    src = str(tmp_path / "cgate_src")
    batch1.coalesce(1).write.mode("overwrite").parquet(src)
    first = _data_files(src)
    batch2.coalesce(1).write.mode("append").parquet(src)
    _force_mtime_after(src, first)

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    verdict_root = band_index_gate_drain(
        stream,
        str(tmp_path / "cgate_out"),
        banding=narrow_containment_anchors_arrow,
    )
    out = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(verdict_root)
        .groupBy("doc_id")
        .agg(F.sum("dup").alias("hit_anchors"))
        .collect()
    )
    got = {r.doc_id: r.hit_anchors for r in out}
    assert got[10] == 0 and got[20] == 0 and got[40] == 0
    assert got[30] == CONTAIN_ANCHORS  # identical shingle set → all anchors


def test_streaming_events_queries_share_one_staged_source(spark, sf_dir):
    """Queries asking for the same split of ``events`` share one staged
    stream source: after the first call per split nothing new is staged,
    and repeated calls return the same rows."""
    from mapreduce_simulation_spark import staging
    from mapreduce_simulation_spark.streaming.stateful import (
        stateful_user_rollup,
    )

    def rows(query):
        return sorted(tuple(r) for r in query(spark, sf_dir).collect())

    hourly = rows(sev.streaming_events_hourly)
    n_dirs = len(staging._DIRS)
    rows(sev.streaming_sessions)
    assert rows(sev.streaming_events_hourly) == hourly
    assert len(staging._DIRS) == n_dirs  # one "ts" range split

    dedup = rows(sev.streaming_dedup_keys)
    n_dirs = len(staging._DIRS)
    rollup = rows(stateful_user_rollup)
    assert rows(sev.streaming_dedup_keys) == dedup
    assert rows(stateful_user_rollup) == rollup
    assert len(staging._DIRS) == n_dirs  # one single-file split


def test_staged_stream_source_follows_table_rewrite(spark, local_sf):
    """A staged stream source is not served once its table changed:
    after events.parquet is rewritten with a subset of its rows, the
    streaming result equals the batch answer over the new table."""
    import pyarrow.parquet as pq

    from conftest import keep_first_rows

    sev.streaming_events_hourly(spark, local_sf).collect()

    n_events = pq.read_metadata(f"{local_sf}/events.parquet").num_rows
    keep_first_rows(local_sf, "events", n_events // 2)
    got = sev.streaming_events_hourly(spark, local_sf).collect()
    want = sev.windowed_counts(load_table(spark, local_sf, "events")).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


@pytest.mark.parametrize(
    "name, table",
    [
        ("streaming_hll_sketch_ingest", "events"),
        ("streaming_quantile_sketch_ingest", "orders"),
        ("streaming_kmv_sketch_ingest", "orders"),
        ("streaming_lsh_index_ingest", "embeddings"),
    ],
)
def test_delta_log_follows_table_rewrite(spark, local_sf, name, table):
    """A re-drained delta log holds only the new drain's batches: after
    the source table is cut to its first rows, the ingest equals its
    batch twin (the registered DuckDB oracle) over the new table."""
    import duckdb

    from conftest import keep_first_rows
    from mapreduce_simulation_spark.plans.registry import (
        oracle_sql,
        queries,
    )

    query = queries()[name]
    query(spark, local_sf).collect()
    keep_first_rows(local_sf, table, 2)
    df = query(spark, local_sf)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM '{local_sf}/{table}.parquet'"
    )
    res = con.execute(oracle_sql()[name])
    want_cols = [d[0] for d in res.description]

    def norm(rows, cols):
        return sorted(
            tuple(
                (c, round(v, 9) if isinstance(v, float) else v)
                for c, v in sorted(zip(cols, r))
            )
            for r in rows
        )

    assert norm(df.collect(), df.columns) == norm(res.fetchall(), want_cols)


def test_memory_sink_is_written_only_by_run_to_memory():
    """Streaming queries drain to memory through run_to_memory; only the
    custom Python source, which cannot take AvailableNow, keeps its own
    processAllAvailable drain."""
    from pathlib import Path

    import mapreduce_simulation_spark as pkg

    owners = []
    for path in Path(pkg.__file__).parent.rglob("*.py"):
        fn = None
        for line in path.read_text(encoding="utf-8").splitlines():
            if line.startswith("def "):
                fn = line[4:].split("(")[0]
            if '.format("memory")' in line:
                owners.append(fn)
    assert sorted(owners) == ["run_to_memory", "streaming_custom_source_rollup"]
