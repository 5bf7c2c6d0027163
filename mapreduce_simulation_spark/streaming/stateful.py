"""Custom stateful streaming operator via applyInPandasWithState.

The built-in windowed/session aggregations (streaming/events.py) cover
Spark's declarative stateful surface; this module is the *arbitrary* state
path — a per-key accumulator the engine user fully controls, the streaming
analogue of the reference's reducer contract (reference
worker/__main__.py:241-249: a process holding running state over a grouped
stream). Here the state is typed, fault-tolerant (checkpointed by the
engine), and Arrow-batched instead of line-piped.

Operator: per-user rollup — event count, first/last event time (µs).
Outputs only exact integer values so the DuckDB oracle hash-matches
bit-for-bit (no float accumulation-order hazards).

Scale notes: state is one 24-byte tuple per user key, partitioned by the
groupBy hash — state store size is O(|users|), independent of event volume;
each micro-batch shuffles only its own rows once. In production the source
is Kafka and the same plan runs unchanged; GroupStateTimeout can evict idle
users to bound the store.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .events import read_event_stream, run_to_memory, stage_stream_source

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("first_event_us", LongType()),
        StructField("last_event_us", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
    ]
)


def _ts_micros(ts: pd.Series) -> pd.Series:
    """Timestamp column → int64 microseconds, robust to Arrow handing pandas
    datetime64[ns] or datetime64[us]."""
    return ts.astype("datetime64[ns]").astype("int64") // 1000


def _rollup_fn(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, first_us, last_us = state.get
    else:
        n, first_us, last_us = 0, None, None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        us = _ts_micros(pdf["ts"])
        n += len(pdf)
        lo, hi = int(us.min()), int(us.max())
        first_us = lo if first_us is None else min(first_us, lo)
        last_us = hi if last_us is None else max(last_us, hi)
    state.update((n, first_us, last_us))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "first_event_us": [first_us],
            "last_event_us": [last_us],
        }
    )


def user_rollup(stream: DataFrame) -> DataFrame:
    """Attach the stateful per-user rollup to a streaming events DataFrame.
    Emits the cumulative (count, first_ts, last_ts) per user each batch."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _rollup_fn,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def stateful_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing query: stage events as a single-file parquet stream
    (one micro-batch → exactly one cumulative emission per user, so the
    result equals the batch GROUP BY and the oracle hash-matches), run the
    stateful rollup, drain with Trigger.AvailableNow. The multi-batch
    incremental behavior is exercised in tests."""
    stage = stage_stream_source(spark, sf_dir, "events")
    stream = read_event_stream(spark, stage, max_files_per_trigger=None)
    return run_to_memory(user_rollup(stream), "stateful_user_rollup", "append")


STATEFUL_USER_ROLLUP_SQL = """
SELECT user_id, count(*) AS n_events,
       epoch_us(min(ts)) AS first_event_us,
       epoch_us(max(ts)) AS last_event_us
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# The same rollup on transformWithStateInPandas — Spark 4's successor state
# API (typed value/list/map state handles, timers, TTL) replacing the single
# opaque tuple of applyInPandasWithState. Kept semantically identical to
# _rollup_fn so one oracle covers both operators.
# ---------------------------------------------------------------------------

# The API landed in Spark 4.0; its state protocol needs protobuf. Prefer
# the real wheel; ensure_protobuf falls back to the vendored mini-runtime
# (vendor/pypath — clean-room wire-format subset), so the operator runs in
# containers without protobuf instead of being an env-gated stub.
from ..vendor import ensure_protobuf as _ensure_protobuf

_ensure_protobuf()
from pyspark.sql.streaming import (  # noqa: E402
    StatefulProcessor,
    StatefulProcessorHandle,
)


class _RollupProcessor(StatefulProcessor):
    """Per-user (count, first_us, last_us) accumulator as a typed ValueState
    handle. The handle survives micro-batches via the state store exactly
    like the applyInPandasWithState tuple, but the new API scales to
    multiple named handles (list/map state, timers) without re-encoding."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._state = handle.getValueState("rollup", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        if self._state.exists():
            n, first_us, last_us = self._state.get()
        else:
            n, first_us, last_us = 0, None, None
        for pdf in rows:
            if len(pdf) == 0:
                continue
            us = _ts_micros(pdf["ts"])
            n += len(pdf)
            lo, hi = int(us.min()), int(us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        self._state.update((n, first_us, last_us))
        (user_id,) = key
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "first_event_us": [first_us],
                "last_event_us": [last_us],
            }
        )

    def close(self) -> None:
        pass


def _drain_tws(
    spark: SparkSession,
    sf_dir: str,
    query_name: str,
    processor: "StatefulProcessor",
    output_schema: StructType,
) -> DataFrame:
    """Shared drain recipe for every transformWithState twin: the
    single-file events stream source (stage_stream_source, shared with
    the other single-batch events queries; one micro-batch → exactly one
    cumulative emission per key, so the result equals the batch GROUP BY
    and the oracle hash-matches), the processor grouped by user_id, and
    an AvailableNow drain into the append-mode memory sink
    ``query_name`` (run_to_memory). transformWithState requires the
    RocksDB state store provider (the default HDFS-backed provider is
    unsupported); the setting is scoped to this drain and restored
    afterwards."""
    stage = stage_stream_source(spark, sf_dir, "events")
    stream = read_event_stream(spark, stage, max_files_per_trigger=None)
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        return run_to_memory(
            stream.groupBy("user_id").transformWithStateInPandas(
                statefulProcessor=processor,
                outputStructType=output_schema,
                outputMode="Append",
                timeMode="None",
            ),
            query_name,
            "append",
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def stateful_user_rollup_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing twin of stateful_user_rollup on the new state API —
    same single-batch staging, same output, same oracle."""
    return _drain_tws(
        spark,
        sf_dir,
        "stateful_user_rollup_tws",
        _RollupProcessor(),
        OUTPUT_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Streaming MinHash dedup gate: near-dup candidate flagging at ingestion.
# ---------------------------------------------------------------------------

# Compaction cadence for the band-index gate: once this many verdict
# deltas sit past the newest claims base, the batch body folds them into
# a new base after its own commit. 16 keeps the per-batch listing and
# parquet-footer cost flat for long-lived ingests while amortizing the
# fold to <1/16 of batches (cadence chosen from the delta-count probe in
# PLANS.md round-13 notes).
COMPACT_DELTA_THRESHOLD = 16


def _log_ids(root: str, prefix: str) -> list[int]:
    """Sorted ids of the committed ``<prefix><id>`` dirs under ``root``
    (in-flight ``_tmp_*`` dirs never match)."""
    import os

    if not os.path.isdir(root):
        return []
    return sorted(
        int(d[len(prefix):]) for d in os.listdir(root) if d.startswith(prefix)
    )


def _prior_claims(
    spark: SparkSession, out_root: str, batch_id: int
) -> DataFrame | None:
    """The (band, key) buckets claimed by batches below ``batch_id``: the
    newest claims base below it plus the ``dup = 0`` rows of the verdict
    deltas after that base. Distinct, so a probe join cannot multiply
    rows; None when nothing is claimed yet. Both are read with the
    columns the gate writes and uses, so no job infers a schema from a
    parquet footer."""
    import os
    from functools import reduce

    from pyspark.sql import functions as F

    from ..operators.dedup import BUCKET_SCHEMA

    index_root = os.path.join(out_root, "index")
    verdict_root = os.path.join(out_root, "verdicts")
    base = max(
        (i for i in _log_ids(index_root, "base_") if i < batch_id),
        default=-1,
    )
    parts = []
    if base >= 0:
        parts.append(
            spark.read.schema(BUCKET_SCHEMA).parquet(
                os.path.join(index_root, f"base_{base:05d}")
            )
        )
    deltas = [
        os.path.join(verdict_root, f"delta_{i:05d}")
        for i in _log_ids(verdict_root, "delta_")
        if base < i < batch_id
    ]
    if deltas:
        parts.append(
            spark.read.schema(f"{BUCKET_SCHEMA}, dup int")
            .parquet(*deltas)
            .where(F.col("dup") == 0)
            .select("band", "key")
        )
    return reduce(DataFrame.unionByName, parts).distinct() if parts else None


def _band_index_gate_batch(
    banded: DataFrame,
    batch_id: int,
    out_root: str,
    compact_threshold: int = COMPACT_DELTA_THRESHOLD,
) -> None:
    """One micro-batch of the band-index gate (the foreachBatch body).

    The batch frame is already banded (doc_id, band, key). A band is
    dup=1 when an earlier batch claimed its (band, key) bucket, or when a
    lower doc_id of this batch shares the bucket. One left join against
    the prior claims (`_prior_claims`, never this batch's own) and one
    window minimum per bucket compute it, all in the JVM.

    These are occupancy semantics. The first batch to touch a bucket
    keeps its batch-global lowest id (the canonical-representative rule
    the batch dedup family uses); every LATER arrival into the occupied
    bucket is flagged, even one with a lower doc_id. A min-id rule across
    batches would emit that lower id dup=0 while the earlier-kept minimum
    also stays dup=0, so a keep-if-not-dup consumer would retain two
    near-duplicates. Verdicts already emitted are immutable, so the only
    consistent cross-batch rule is "the first kept doc owns the bucket".

    The verdicts (doc_id, band, key, dup) are written to
    ``verdicts/_tmp_<id>`` and committed by one rename to
    ``verdicts/delta_<id>``; the rows with dup=0 are the batch's claims,
    so the verdict log is also the index. An existing ``delta_<id>``
    means a replayed batch, which is skipped; a crash before the rename
    leaves only the ``_tmp_`` dir, which readers ignore and the replay
    overwrites with identical verdicts."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    verdict_root = os.path.join(out_root, "verdicts")
    vdir = os.path.join(verdict_root, f"delta_{batch_id:05d}")
    if os.path.isdir(vdir):
        return  # replayed, committed batch
    spark = banded.sparkSession
    claims = _prior_claims(spark, out_root, batch_id)
    claimed = F.lit(False)
    if claims is not None:
        banded = banded.join(
            claims.withColumn("claimed", F.lit(True)), ["band", "key"], "left"
        )
        claimed = F.col("claimed").isNotNull()
    owner = F.min("doc_id").over(Window.partitionBy("band", "key"))
    verdicts = banded.select(
        "doc_id",
        "band",
        "key",
        (claimed | (F.col("doc_id") != owner)).cast("int").alias("dup"),
    )
    tmp = os.path.join(verdict_root, f"_tmp_{batch_id:05d}")
    verdicts.write.mode("overwrite").parquet(tmp)
    os.rename(tmp, vdir)
    base = max(_log_ids(os.path.join(out_root, "index"), "base_"), default=-1)
    newer = [i for i in _log_ids(verdict_root, "delta_") if i > base]
    if len(newer) >= compact_threshold:
        compact_band_index(spark, out_root)


def compact_band_index(spark: SparkSession, out_root: str) -> int:
    """Fold the gate's claims into one base so that a batch reads one
    base plus fewer than COMPACT_DELTA_THRESHOLD verdict deltas instead
    of the whole log. Returns the number of verdict deltas folded.

    The base is a derived cache: the distinct claims of the newest base
    plus every newer verdict delta are written to ``index/_tmp_compact``,
    renamed to ``index/base_<last folded batch id>``, and only then are
    the older bases deleted. Nothing under ``verdicts/`` is deleted or
    rewritten, and every verdict delta is committed by construction, so
    a crash at any point leaves the claim set intact: a leftover
    ``_tmp_compact`` is never read and is overwritten by the next fold,
    and a reader beside a surviving older base picks the newest base
    below its batch id, with the deltas after it."""
    import os
    import shutil

    index_root = os.path.join(out_root, "index")
    bases = _log_ids(index_root, "base_")
    base = max(bases, default=-1)
    folded = [
        i
        for i in _log_ids(os.path.join(out_root, "verdicts"), "delta_")
        if i > base
    ]
    if not folded:
        return 0
    last = folded[-1]
    tmp = os.path.join(index_root, "_tmp_compact")
    _prior_claims(spark, out_root, last + 1).write.mode("overwrite").parquet(
        tmp
    )
    os.rename(tmp, os.path.join(index_root, f"base_{last:05d}"))
    for i in bases:
        shutil.rmtree(os.path.join(index_root, f"base_{i:05d}"))
    return len(folded)


def _check_checkpoint_covers(ckpt: str, verdict_root: str) -> None:
    """Refuse to drain when the checkpoint has lost committed batches.

    Batch ids come from the checkpoint, and a batch whose verdict delta
    exists is skipped as a replay. A lost or older checkpoint restarts ids
    below the committed ones, so every batch would be skipped and the
    drain would return the old verdicts for new input. Spark writes a
    batch's offset-log entry before running it, so each committed verdict
    delta has one. The offset log is checked, not the commit log, because
    a crash between the verdict commit and Spark's commit entry is a
    legitimate replay."""
    import os

    committed = max(_log_ids(verdict_root, "delta_"), default=-1)
    offsets = os.path.join(ckpt, "offsets")
    logged = (
        max((int(f) for f in os.listdir(offsets) if f.isdigit()), default=-1)
        if os.path.isdir(offsets)
        else -1
    )
    if logged < committed:
        raise RuntimeError(
            f"{verdict_root} holds committed verdicts up to batch "
            f"{committed}, but the checkpoint {ckpt} has logged batches "
            f"only up to {logged}: the checkpoint was lost or replaced, and "
            "draining would skip new batches as replays; drain into a fresh "
            "out_root instead"
        )


def band_index_gate_drain(
    doc_stream: DataFrame, out_root: str, banding=None
) -> str:
    """Drain a streaming documents frame through the band-index ingestion
    gate: stateless narrow banding (mapInPandas — streaming-legal) feeding
    a foreachBatch sink that probes each micro-batch against the buckets
    earlier batches claimed and commits the batch's verdicts as one
    delta. Returns the verdicts directory ((doc_id, band, key, dup) rows
    across ``delta_<id>`` dirs; the dup=0 rows are the claims).

    This is the engine's ingestion-dedup path (registered as
    `streaming_minhash_dedup` and `streaming_containment_dedup`). State
    lives in parquet, not in a state store, so the per-batch cost is one
    shuffle join of the batch's bands against the claims — no per-group
    Python invocation, no state-store serialization. At 100 TB
    the claims are a bucketed table on (band, key) and the probe join
    shuffles only the incoming batch; every COMPACT_DELTA_THRESHOLD
    deltas the claims are folded into a base under ``index/``
    (compact_band_index). A staged corpus drains here in a handful of
    AvailableNow batches, below that threshold.

    Raises RuntimeError when `out_root/verdicts` holds committed batches
    that the checkpoint never logged (see _check_checkpoint_covers)."""
    import os

    verdict_root = os.path.join(out_root, "verdicts")
    ckpt = os.path.join(out_root, "ckpt")
    os.makedirs(verdict_root, exist_ok=True)
    _check_checkpoint_covers(ckpt, verdict_root)

    from ..operators.dedup import narrow_minhash_bands_arrow

    # banding: (streaming DataFrame) -> (doc_id, band, key) rows. Default
    # = MinHash LSH bands; the containment gate passes its anchor bander
    # (r15). The gate below is band-scheme-agnostic — state is keyed on
    # (band, key) whatever produced them.
    banded = (banding or narrow_minhash_bands_arrow)(doc_stream)
    q = (
        banded.writeStream.foreachBatch(
            lambda df, bid: _band_index_gate_batch(df, bid, out_root)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return verdict_root


def drain_delta_log(
    spark: SparkSession,
    stage: str,
    schema: StructType,
    out_prefix: str,
    delta: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Drain the parquet file stream ``stage`` one file per micro-batch
    and write each batch's ``delta(batch_df)`` as one parquet file under
    ``deltas/batch=<id>`` of a fresh ``staging_dir(out_prefix)``.
    Returns every delta read back, with its ``batch`` partition column.

    A replayed batch overwrites its identical delta at the same path, so
    the log is idempotent without a transaction log. Every call starts an
    empty log, so a re-drain never reads batches left by an earlier drain
    of a different source. The ``batch=`` dirs are visible in the result's
    ``inputFiles()``."""
    import os

    from ..staging import staging_dir

    delta_dir = os.path.join(staging_dir(out_prefix), "deltas")

    def _write_delta(batch_df: DataFrame, batch_id: int) -> None:
        delta(batch_df).repartition(1).write.mode("overwrite").parquet(
            os.path.join(delta_dir, f"batch={batch_id}")
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(_write_delta)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(delta_dir)


def streaming_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing query: stage documents as a single-file parquet
    stream, run the band-index ingestion gate (band_index_gate_drain),
    drain with Trigger.AvailableNow, roll the per-band verdicts up per
    document — (doc_id, dup_bands, is_candidate_dup), where a document is
    a candidate near-dup iff it shares ≥1 LSH band bucket with a LOWER-id
    document.

    Single-batch staging makes the kept-set deterministic (the bucket
    minimum is a batch-global min, not arrival-order-first), so the
    oracle is plain SQL over the same signature arithmetic — exact, since
    the gate's band keys are signature-value strings, not lossy hashes.
    Multi-batch incremental gating (batch N flagged against buckets from
    batches 1..N-1) is exercised in tests."""
    from ..staging import staging_dir
    from ..tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    stage = stage_stream_source(spark, sf_dir, "documents")
    stream = spark.readStream.schema(docs.schema).parquet(stage)
    # fresh gate state per call — the drain IS the measured work (bench
    # and scale probes time the ingest, not a cache hit)
    verdict_root = band_index_gate_drain(stream, staging_dir("band_gate_"))
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(verdict_root)
        .groupBy("doc_id")
        .agg(
            F.sum("dup").cast("bigint").alias("dup_bands"),
            F.max("dup").cast("int").alias("is_candidate_dup"),
        )
        .orderBy("doc_id")
    )


def streaming_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CONTAINMENT ingestion gate — the online twin of
    containment_dedup, exactly as streaming_minhash_dedup is the online
    twin of dedup_minhash_lsh: documents arrive as a micro-batch stream,
    each doc's CONTAIN_ANCHORS min-hash anchors (band width 1 — the
    1-(1-J)^m candidate envelope, which is what catches the asymmetric
    doc-contains-doc pairs LSH bands structurally miss) probe the
    (band, key) anchors earlier batches claimed, and the gate emits
    per-doc verdicts: (doc_id, hit_anchors, is_candidate_contain) where a
    doc is a candidate iff ≥1 of its anchors is already claimed by a
    LOWER-id document. Shares band_index_gate_drain with the MinHash gate
    — the verdict-log and compaction machinery is band-scheme-agnostic;
    only the banding function differs. Candidate generation only: the exact
    containment verify (and the CONTAIN_BUCKET_CAP discipline) stays in
    the batch path, exactly as the MinHash gate leaves jaccard
    verification to the batch LSH query.

    Single-batch staging makes the claimed-anchor set deterministic
    (bucket minimum = batch-global min), so the oracle is plain SQL over
    the same anchor arithmetic — exact (anchor keys are signature-value
    strings, not lossy hashes). Scale: per-batch cost is one shuffle join
    of the batch's m·|batch| anchor rows against the index — identical
    shape to the MinHash gate, whose ×100 drain probe (r14: 5.8× wall,
    per-doc 1.11 → 0.06 ms) bounds this gate too (it moves m=3 rows/doc
    vs LSH's 8).

    Reference parity: no streaming surface in the reference engine
    (HaolingPu/MapReduce-Simulation) — LLM-pipeline extension tier.
    """
    from ..operators.dedup import narrow_containment_anchors_arrow
    from ..staging import staging_dir
    from ..tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    stage = stage_stream_source(spark, sf_dir, "documents")
    stream = spark.readStream.schema(docs.schema).parquet(stage)
    verdict_root = band_index_gate_drain(
        stream,
        staging_dir("contain_gate_"),
        banding=narrow_containment_anchors_arrow,
    )
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(verdict_root)
        .groupBy("doc_id")
        .agg(
            F.sum("dup").cast("bigint").alias("hit_anchors"),
            F.max("dup").cast("int").alias("is_candidate_contain"),
        )
        .orderBy("doc_id")
    )


def _staged_gate_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingestion gate's per-doc verdicts (doc_id, dup_bands,
    is_candidate_dup) as a STAGED per-corpus artifact: computed once by
    draining the streaming gate, then served from parquet — exactly how a
    production pipeline consumes ingestion verdicts (the gate writes them
    at ingestion time; downstream batch jobs read the stored table, they
    don't re-ingest the corpus). Deterministic per corpus because the
    single-batch drain makes bucket minima batch-global."""
    from ..staging import stage_once

    return stage_once(
        spark,
        "gate_verdicts_",
        f"sf={sf_dir}",
        "verdicts",
        lambda: streaming_minhash_dedup(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism
        ),
    )


def gated_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion gate feeding the batch path — the multi-job pipeline the
    reference's manager chains (manager/__main__.py:313-319), re-expressed
    as gate → filter → batch LSH: consume the gate's STAGED per-doc
    verdicts (computed once at ingestion — _staged_gate_verdicts; the
    live-streaming execution is streaming_minhash_dedup's own entry),
    DROP every flagged candidate, then re-run the full banded
    MinHash + exact-jaccard batch dedup on the kept set and REPORT what it
    finds. The residual pair count is computed, not assumed: the gate's
    contract (no two kept docs share an LSH band bucket) implies zero
    banded candidates on the kept set, and this query proves it against
    the full-corpus pair count — the documented "the gate keeps near-dup
    cliques out of the batch path" story as an oracle-checked query.

    Output (term, value) bigint rows:
      docs_total     — corpus size
      gated_docs     — docs long enough to shingle (entered the gate)
      flagged_docs   — gate verdicts with ≥1 dup band
      kept_docs      — docs_total − flagged_docs
      full_pairs     — verified near-dup pairs on the FULL corpus
      residual_pairs — verified near-dup pairs on the kept set (gate
                       contract ⇒ 0, asserted by the oracle's identical
                       computation, not by fiat)

    Plan audit: flagged MID_SINGLE_PARTITION — each unioned term is a
    global count, so the plan carries six Exchange SinglePartition nodes
    that each move exactly ONE partial-aggregated row; the corpus-scale
    work (banded self-joins, jaccard verification) all happens below the
    partial aggregates on hash-partitioned exchanges.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    from ..operators.dedup import (
        _minhash_verified_pairs,
        _staged_minhash_sig,
        staged_shingles,
    )
    from ..tables import load_table

    gate = _staged_gate_verdicts(spark, sf_dir)
    flagged = gate.where(F.col("is_candidate_dup") == 1).select("doc_id")
    docs = load_table(spark, sf_dir, "documents")
    sh = staged_shingles(spark, sf_dir)
    sig = _staged_minhash_sig(spark, sf_dir)
    # Kept slice = left-anti on the flagged ids. |flagged| is a near-dup
    # head, orders of magnitude smaller than the corpus, so at scale both
    # anti-joins broadcast the flagged side — no extra corpus shuffle.
    kept_sh = sh.join(flagged, "doc_id", "left_anti")
    kept_sig = sig.join(flagged, "doc_id", "left_anti")

    def term(name: str, df_count: DataFrame) -> DataFrame:
        return df_count.select(
            F.lit(name).alias("term"), F.col("value").cast("bigint")
        )

    cnt = lambda df: df.agg(F.count(F.lit(1)).alias("value"))  # noqa: E731
    parts = [
        term("docs_total", cnt(docs)),
        term("gated_docs", cnt(sig)),
        term("flagged_docs", cnt(flagged)),
        term(
            "kept_docs", cnt(docs.join(flagged, "doc_id", "left_anti"))
        ),
        term("full_pairs", cnt(_minhash_verified_pairs(sh, sig))),
        term(
            "residual_pairs",
            cnt(_minhash_verified_pairs(kept_sh, kept_sig)),
        ),
    ]
    return reduce(DataFrame.unionAll, parts).orderBy("term")


N_INGEST_SHARDS = 16


def make_ingest_batch_fn(data_dir: str, manifest_dir: str):
    """The per-micro-batch export step (module-level so the crash-replay
    test can drive it under its own checkpoint): shard-assign, write the
    batch's rows under out/batch=<id>/shard_id=*/ and its manifest delta
    under manifest/batch=<id>/ — both with OVERWRITE, so a replayed batch
    rewrites identical bytes at identical paths (idempotent without a
    transaction log)."""
    from pyspark.sql import functions as F

    from ..functions.hashing import P as _P
    from ..operators.text import tokens as _tokens

    def _ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        enriched = batch_df.select(
            "doc_id",
            F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens"),
            F.pmod(F.col("doc_id"), F.lit(N_INGEST_SHARDS)).alias(
                "shard_id"
            ),
        )
        (
            enriched.repartition(N_INGEST_SHARDS, "shard_id")
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(f"{data_dir}/batch={batch_id}")
        )
        delta = enriched.groupBy("shard_id").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.pmod(
                F.sum(
                    F.pmod(
                        F.col("doc_id") * F.col("n_tokens"), F.lit(_P)
                    )
                ),
                F.lit(_P),
            ).alias("checksum"),
        )
        delta.repartition(1).write.mode("overwrite").parquet(
            f"{manifest_dir}/batch={batch_id}"
        )

    return _ingest_batch


def streaming_shard_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion → sharded parquet export with an exactly-once
    per-batch manifest — the streaming face of the batch export stage
    (operators/curation.shard_export_manifest). Each micro-batch:

      1. assigns docs to shard_id = doc_id mod N (hash-free, balanced,
         and — unlike the batch path's seq_id sharding — independent of
         any global order, so it is computable per batch);
      2. writes the batch's rows under out/batch=<id>/shard_id=*/ with
         OVERWRITE — a replayed batch (sink committed, engine commit
         lost) rewrites the same bytes at the same path, so the export
         is idempotent without a transaction log;
      3. writes the batch's manifest DELTA (batch_id, shard_id, n_docs,
         n_tokens, checksum) under manifest/batch=<id>/, same overwrite
         idempotence.

    The returned DataFrame aggregates the deltas per shard. Counts and
    token sums are plain sums; the checksum is Σ(doc_id·n_tokens mod P)
    mod P, whose per-batch partials compose mod P — so the drained
    manifest equals the one-shot batch manifest over the corpus, which is
    the exact DuckDB oracle. Four range-split input files exercise real
    multi-batch accumulation (asserted in tests).

    Scale: nothing here is corpus-global — per batch it is one narrow
    projection, one partial agg on 16 keys, and a 16-task repartitioned
    write; manifest deltas are 16 rows per batch, and the final rollup
    reads only deltas (batches × 16 rows), never the exported data.
    """
    from pyspark.sql import functions as F

    from ..functions.hashing import P as _P
    from ..operators.text import tokens as _tokens
    from ..staging import staging_dir
    from ..tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    stage = stage_stream_source(spark, sf_dir, "documents", "doc_id")
    out_root = staging_dir("shard_ingest_out_")
    data_dir = f"{out_root}/data"
    manifest_dir = f"{out_root}/manifest"

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(
            make_ingest_batch_fn(data_dir, manifest_dir)
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    deltas = spark.read.parquet(manifest_dir)
    return (
        deltas.groupBy("shard_id")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.pmod(F.sum("checksum"), F.lit(_P)).alias("checksum"),
        )
        .orderBy("shard_id")
    )


def _shard_ingest_oracle_sql() -> str:
    # constants interpolated from the SAME sources the Spark side uses
    # (N_INGEST_SHARDS / hashing.P) so a constant change can never
    # desynchronize the operator from its oracle (r11 advice)
    from ..functions.hashing import P as _p

    return rf"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(str_split_regex(lower(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id % {N_INGEST_SHARDS} AS shard_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum((doc_id * n_tokens) % {_p}) % {_p} AS BIGINT)
         AS checksum
FROM toks
GROUP BY 1
ORDER BY 1
"""


STREAMING_SHARD_INGEST_SQL = _shard_ingest_oracle_sql()


def streaming_hll_sketch_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion → an append-only HLL sketch-delta log → exact
    same distinct-count estimates as the batch sketch, per day. The
    online face of the deterministic HLL (functions/hll.py) and the
    sketch-table pattern at ingest time: each micro-batch writes its own
    per-(day, register) max-rho DELTA under deltas/batch=<id>/ (OVERWRITE
    — a replayed batch rewrites identical bytes, the shard-ingest
    idempotence recipe), and any later rollup merges deltas by max(rho)
    WITHOUT re-reading raw events.

    Because register-state merge is max (associative, commutative,
    idempotent) and the event count merge is sum, the drained multi-batch
    state equals the one-shot batch state EXACTLY — so the result is
    row-identical to the batch estimator and the DuckDB oracle replays it
    bit-for-bit (unlike engine sketches, whose binary state is
    engine-private). Four range-split input files exercise real
    multi-batch accumulation.

    Scale: per batch one narrow projection + a partial agg keyed
    (day, register) — ≤ min(batch users, HLL_M) rows per day; delta files
    are register-table-sized; the rollup reads only deltas. At 100 TB
    this is the shape that makes 'distinct users last month' a
    metadata-scale query forever."""
    from pyspark.sql import functions as F

    from ..functions import hll as HLL
    from ..tables import load_table

    stage = stage_stream_source(spark, sf_dir, "events", "event_id")
    reg, rho = HLL.hll_register_cols("user_id")
    deltas = drain_delta_log(
        spark,
        stage,
        load_table(spark, sf_dir, "events").schema,
        "hll_ingest_out_",
        lambda batch_df: batch_df.select(
            F.to_date("ts").alias("day"), reg.alias("reg"), rho.alias("rho")
        )
        .groupBy("day", "reg")
        .agg(
            F.max("rho").alias("maxrho"),
            F.count(F.lit(1)).alias("n_rows"),
        ),
    )
    state = deltas.groupBy("day", "reg").agg(
        F.max("maxrho").alias("maxrho"),
        F.sum("n_rows").alias("n_rows"),
    )
    return (
        HLL.hll_group_estimate(
            state, ["day"], spark, extra_sums={"n_events": "n_rows"}
        )
        .select("day", "n_events", F.col("approx").alias("approx_users"))
        .orderBy("day")
    )


def _hll_sketch_ingest_oracle_sql() -> str:
    from ..functions import hll as HLL

    return f"""
WITH lc AS {HLL.lc_table_cte()},
state AS ({HLL.hll_state_sql(
        "(SELECT CAST(ts AS DATE) AS day, user_id FROM events)",
        "user_id",
        "day",
    )})
SELECT day, n_events, approx AS approx_users
FROM ({HLL.hll_estimate_sql(
        "day", {"n_events": "CAST(sum(n_rows) AS BIGINT)"}
    )})
ORDER BY day
"""


STREAMING_HLL_INGEST_SQL = _hll_sketch_ingest_oracle_sql()


def streaming_quantile_sketch_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Online face of the dyadic-histogram quantile sketch
    (operators/sketches.quantile_sketch_monthly): each micro-batch of
    orders appends its (yr, mo, bucket) COUNT delta under batch=<id>
    (overwrite ⇒ replay-idempotent — the HLL/shard-ingest delta-log
    recipe), and the rollup sums deltas into the month state without
    re-reading raw orders. Count-merge is sum — associative and
    commutative — so the drained multi-batch estimates are ROW-IDENTICAL
    to the one-shot batch sketch (pytest) and the oracle is the SAME SQL
    as the batch query's.

    Scale: delta files are bucket-table-sized (≤ domain/width rows per
    month per batch); the percentile dashboard reads only deltas. This
    plus the HLL ingest make BOTH sketch families (max-merge registers,
    sum-merge histograms) append-at-ingest, serve-from-state."""
    from pyspark.sql import functions as F

    from ..operators import sketches as SK
    from ..tables import load_table

    stage = stage_stream_source(spark, sf_dir, "orders", "o_orderkey")
    state = (
        drain_delta_log(
            spark,
            stage,
            load_table(spark, sf_dir, "orders").schema,
            "qsk_ingest_out_",
            lambda batch_df: batch_df.select(
                F.year("o_orderdate").alias("yr"),
                F.month("o_orderdate").alias("mo"),
                F.floor(
                    F.floor(F.col("o_totalprice")).cast("long")
                    / SK.QSK_WIDTH
                )
                .cast("long")
                .alias("b"),
            )
            .groupBy("yr", "mo", "b")
            .agg(F.count(F.lit(1)).alias("cnt")),
        )
        .groupBy("yr", "mo", "b")
        .agg(F.sum("cnt").alias("cnt"))
    )
    from pyspark.sql import Window

    w_mon = Window.partitionBy("yr", "mo")
    cum = state.withColumn("n", F.sum("cnt").over(w_mon)).withColumn(
        "cum",
        F.sum("cnt").over(
            w_mon.orderBy("b").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    aggs = [F.max("n").cast("long").alias("n_orders")]
    for num, den, name in SK.QSK_QUANTILES:
        rank = F.expr(f"(n * {num} + {den - 1}) DIV {den}")
        aggs.append(
            F.min(
                F.when(F.col("cum") >= rank, (F.col("b") + 1) * SK.QSK_WIDTH)
            )
            .cast("long")
            .alias(name)
        )
    return cum.groupBy("yr", "mo").agg(*aggs).orderBy("yr", "mo")


def streaming_kmv_sketch_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Online face of the KMV distinct sketch
    (operators/sketches.kmv_month_overlap): each micro-batch of orders
    appends its own per-month min-K hash delta under batch=<id>
    (overwrite ⇒ replay-idempotent — the HLL/quantile delta-log recipe),
    and the rollup re-ranks the UNION of deltas to the global min-K
    without re-reading raw orders. This is the third merge discipline
    made append-at-ingest: max-merge registers (HLL), sum-merge
    histograms (quantile), and now ORDER-STATISTICS merge —
    min-K(A ∪ B) = min-K(min-K(A) ∪ min-K(B)), associative, commutative
    and idempotent, so the drained multi-batch sketch is ROW-IDENTICAL
    to the one-shot batch sketch and the oracle is the same SQL.

    Scale: per batch one distinct + per-month top-K (WindowGroupLimit —
    per-partition K before the exchange); delta files are ≤ K rows per
    month per batch; the rollup reads only deltas."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators import sketches as SK
    from ..tables import load_table

    stage = stage_stream_source(spark, sf_dir, "orders", "o_orderkey")
    w = Window.partitionBy("mi").orderBy("h")

    def min_k(hashes: DataFrame) -> DataFrame:
        return (
            hashes.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= SK.KMV_K)
            .select("mi", "h")
        )

    sk = min_k(
        drain_delta_log(
            spark,
            stage,
            load_table(spark, sf_dir, "orders").schema,
            "kmv_ingest_out_",
            lambda batch_df: min_k(
                batch_df.select(
                    (
                        F.year("o_orderdate") * 12
                        + F.month("o_orderdate")
                        - 1
                    ).alias("mi"),
                    SK._kmv_hash("o_custkey").alias("h"),
                ).distinct()
            ),
        )
        .select("mi", "h")
        .distinct()  # the same value may sit in several batches' min-K
    )
    stats = sk.groupBy("mi").agg(
        F.count(F.lit(1)).cast("int").alias("k_used"),
        F.max("h").alias("kth"),
    )
    return stats.select(
        (F.col("mi") / F.lit(12)).cast("int").alias("yr"),
        (F.col("mi") % 12 + 1).cast("int").alias("mo"),
        "k_used",
        F.when(
            F.col("k_used") < SK.KMV_K, F.col("k_used").cast("double")
        )
        .otherwise(F.lit(SK._KMV_NUM) / F.col("kth"))
        .alias("n_est"),
    ).orderBy("yr", "mo")


# ---------------------------------------------------------------------------
# transformWithState MapState surface: per-user sub-keyed accumulator.
# ---------------------------------------------------------------------------

TWS_MAP_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("min_event_id", LongType()),
        StructField("max_event_id", LongType()),
    ]
)


class _TypeRollupProcessor(StatefulProcessor):
    """Per-user MapState keyed by event_type holding (n, min_id, max_id) —
    the sub-keyed-state shape a long-lived personalization pipeline keeps
    per (user, category). Exercises the MapState protocol surface
    (containsKey / getValue / updateValue / iterator) on top of the same
    vendored mini-protobuf runtime the ValueState twin runs on; the
    emitted rows are read BACK from the state handle (iterator()), not
    from a local accumulator, so the round trip through the state store
    is what the oracle checks."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._per_type = handle.getMapState(
            "per_type",
            StructType([StructField("event_type", StringType())]),
            StructType(
                [
                    StructField("n", LongType()),
                    StructField("mn", LongType()),
                    StructField("mx", LongType()),
                ]
            ),
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        for pdf in rows:
            if len(pdf) == 0:
                continue
            g = pdf.groupby("event_type")["event_id"].agg(
                ["count", "min", "max"]
            )
            for et, (n, mn, mx) in g.iterrows():
                mk = (et,)
                if self._per_type.containsKey(mk):
                    pn, pmn, pmx = self._per_type.getValue(mk)
                    self._per_type.updateValue(
                        mk,
                        (pn + int(n), min(pmn, int(mn)), max(pmx, int(mx))),
                    )
                else:
                    self._per_type.updateValue(
                        mk, (int(n), int(mn), int(mx))
                    )
        (user_id,) = key
        out = sorted(
            (k[0], v[0], v[1], v[2]) for k, v in self._per_type.iterator()
        )
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out),
                "event_type": [r[0] for r in out],
                "n_events": [r[1] for r in out],
                "min_event_id": [r[2] for r in out],
                "max_event_id": [r[3] for r in out],
            }
        )

    def close(self) -> None:
        pass


def stateful_user_type_rollup_tws(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-(user, event_type) rollup through transformWithStateInPandas
    MapState — the sub-keyed state handle (see _TypeRollupProcessor).
    Same staging/drain recipe as the ValueState twin; exact oracle is the
    plain GROUP BY the state must reproduce after its store round trip.

    Scale: state is one (type → 3 longs) map entry per (user, type) —
    the per-user maps live in RocksDB partitioned by the group key, so
    state size is |user × type| rows spread across executors; each
    micro-batch shuffles only its own rows."""
    return _drain_tws(
        spark,
        sf_dir,
        "stateful_user_type_rollup_tws",
        _TypeRollupProcessor(),
        TWS_MAP_OUTPUT_SCHEMA,
    ).orderBy("user_id", "event_type")


STATEFUL_USER_TYPE_ROLLUP_TWS_SQL = """
SELECT user_id, event_type,
       count(*) AS n_events,
       min(event_id) AS min_event_id,
       max(event_id) AS max_event_id
FROM events
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""


# ---------------------------------------------------------------------------
# transformWithState ListState surface: append-only per-user delta log.
# ---------------------------------------------------------------------------

TWS_LIST_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_purchases", LongType()),
        StructField("min_event_id", LongType()),
        StructField("max_event_id", LongType()),
    ]
)


class _DeltaLogProcessor(StatefulProcessor):
    """Per-user ListState as an append-only partial-aggregate log: every
    arrow chunk appends ONE (n, n_purchase, min_id, max_id) delta, and the
    emission FOLDS the list read back from the store. The folds are
    order-insensitive (sum/sum/min/max), so the output is deterministic
    whatever the chunking — the same map-side-combine discipline a delta
    log table uses, here as state-protocol exercise for appendValue/get.
    Completes the typed-handle trio: ValueState (_RollupProcessor),
    MapState (_TypeRollupProcessor), ListState (this)."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._log = handle.getListState(
            "deltas",
            StructType(
                [
                    StructField("n", LongType()),
                    StructField("np", LongType()),
                    StructField("mn", LongType()),
                    StructField("mx", LongType()),
                ]
            ),
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        for pdf in rows:
            if len(pdf) == 0:
                continue
            self._log.appendValue(
                (
                    len(pdf),
                    int((pdf["event_type"] == "purchase").sum()),
                    int(pdf["event_id"].min()),
                    int(pdf["event_id"].max()),
                )
            )
        n = np = 0
        mn = mx = None
        for d in self._log.get():
            n += d[0]
            np += d[1]
            mn = d[2] if mn is None else min(mn, d[2])
            mx = d[3] if mx is None else max(mx, d[3])
        (user_id,) = key
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "n_purchases": [np],
                "min_event_id": [mn],
                "max_event_id": [mx],
            }
        )

    def close(self) -> None:
        pass


def stateful_user_delta_log_tws(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user rollup through transformWithState ListState — the
    append-only delta-log state shape (see _DeltaLogProcessor). Same
    staging/drain recipe as the other TWS twins; the oracle is the plain
    GROUP BY the folded log must reproduce after its store round trip."""
    return _drain_tws(
        spark,
        sf_dir,
        "stateful_user_delta_log_tws",
        _DeltaLogProcessor(),
        TWS_LIST_OUTPUT_SCHEMA,
    ).orderBy("user_id")


STATEFUL_USER_DELTA_LOG_TWS_SQL = """
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases,
       min(event_id) AS min_event_id,
       max(event_id) AS max_event_id
FROM events
GROUP BY user_id
ORDER BY user_id
"""
