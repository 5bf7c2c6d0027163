"""Grouped custom aggregation via applyInPandas — the native-speed face of
the reference's reducer contract.

The reference's reducer surface is "an executable receives one key's sorted
group and emits rows" (reference worker/__main__.py:241-249 + contiguous-key
grouping inside the executable). `pipe_reduce` reproduces that contract
bit-for-bit for existing binaries; THIS module is what new code should use
instead: `applyInPandas` gives the same group-at-a-time programming model
with Arrow batching (~10-100× the throughput of row-at-a-time Python), and
whole groups arrive as pandas DataFrames — no manual contiguity bookkeeping.

Scale notes: one shuffle on the group key (same as any reducer); each group
must fit in one worker's memory — same constraint the reference's reducer
has, since a group is one executable's stdin.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..tables import load_table


def group_rank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type, rank events by value (desc, event_id tiebreak) and
    keep the top 10 — a custom grouped computation written as pandas code.
    Integer output keeps the DuckDB oracle comparison exact."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
        ordered = pdf.sort_values(
            ["value", "event_id"], ascending=[False, True]
        ).head(10)
        ordered = ordered.assign(rk=range(1, len(ordered) + 1))
        return ordered[["event_type", "event_id", "value", "rk"]]

    return ev.groupBy("event_type").applyInPandas(
        rank_group, schema="event_type string, event_id bigint, value double, rk int"
    )


def embedding_argmax_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector integer descriptors computed through ``mapInArrow`` — the
    zero-copy tier of the UDF surface (below applyInPandas/mapInPandas):
    the function sees raw ``pyarrow.RecordBatch``es, so there is no
    pandas materialization at all; numpy reads the Arrow buffers directly.
    Right tier for tight numeric kernels over wide array columns at 100 TB —
    narrow map, no shuffle, batch-at-a-time memory.

    Outputs are integers (dimension count, count of strictly-positive
    components, 1-based first-argmax index), so the DuckDB list-function
    oracle matches exactly despite float32 inputs."""
    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def describe(batches):
        import numpy as np

        for batch in batches:
            vec_ids = batch.column("vec_id")
            embs = batch.column("embedding")
            offs = np.asarray(embs.offsets)
            vals = np.asarray(embs.values, dtype=np.float32)
            widths = np.diff(offs).astype(np.int64)
            if widths.size and (widths == widths[0]).all() and widths[0] > 0:
                # Fixed-width lists (the embedding case): one reshape over
                # the flat Arrow values buffer, fully vectorized — no
                # per-row Python, which is the point of this tier.
                m = vals[offs[0] : offs[-1]].reshape(-1, int(widths[0]))
                n_pos = (m > 0).sum(axis=1).astype(np.int64)
                argmax = m.argmax(axis=1).astype(np.int64) + 1
            else:  # ragged fallback (not hit by the embeddings table)
                n_pos = np.array(
                    [int((vals[a:b] > 0).sum()) for a, b in zip(offs, offs[1:])],
                    dtype=np.int64,
                )
                argmax = np.array(
                    [
                        int(vals[a:b].argmax()) + 1 if b > a else 0
                        for a, b in zip(offs, offs[1:])
                    ],
                    dtype=np.int64,
                )
            yield pa.RecordBatch.from_arrays(
                [
                    vec_ids,
                    pa.array(widths, pa.int64()),
                    pa.array(n_pos, pa.int64()),
                    pa.array(argmax, pa.int64()),
                ],
                ["vec_id", "n_dims", "n_positive", "argmax_idx"],
            )

    return emb.mapInArrow(
        describe,
        "vec_id bigint, n_dims bigint, n_positive bigint, argmax_idx bigint",
    )


EMBEDDING_ARGMAX_SQL = """
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS n_dims,
       CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_positive,
       CAST(list_indexof(embedding, list_max(embedding)) AS BIGINT)
         AS argmax_idx
FROM embeddings
"""


MG_CAPACITY = 64


def mg_add_batch(
    counters: dict[str, int], batch_counts: dict[str, int], capacity: int
) -> dict[str, int]:
    """One Misra-Gries merge step: add a batch's exact counts, then if
    more than ``capacity`` counters remain, subtract the (capacity+1)-th
    largest value from all and drop non-positives. Each prune removes at
    least (capacity+1)·cut total mass, so the cumulative undercount of
    any key stays below N/(capacity+1) — the classic MG bound. Pure
    function, shared by both mapInPandas sketch passes and the
    hypothesis property test (tests/test_properties.py)."""
    for word, cnt in batch_counts.items():
        counters[word] = counters.get(word, 0) + int(cnt)
    if len(counters) > capacity:
        cut = sorted(counters.values(), reverse=True)[capacity]
        counters = {w: c - cut for w, c in counters.items() if c - cut > 0}
    return counters


def _mg_sketch(tok: DataFrame) -> DataFrame:
    """Pass 1 of heavy_hitters_sketch: one Misra-Gries sketch of
    MG_CAPACITY counters per partition of the ``word`` column ``tok``,
    emitted as (word, mg_count) lower bounds. Counts depend on the
    partitioning; summed over partitions, each undercounts its word by
    less than N/MG_CAPACITY."""

    def mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            counters = mg_add_batch(
                counters, pdf["word"].value_counts().to_dict(), MG_CAPACITY
            )
        yield pd.DataFrame(
            {"word": list(counters), "mg_count": list(counters.values())}
        )

    return tok.mapInPandas(mg_partition, "word string, mg_count bigint")


def heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters through a two-pass Misra-Gries pipeline — the
    bounded-memory answer when the key space itself doesn't fit (exact
    word_count shuffles every distinct key; the sketch pass shuffles
    ≤ MG_CAPACITY rows per partition no matter how large the vocabulary
    grows):

      pass 1 (sketch): per-partition MG with MG_CAPACITY counters. The
        classic guarantee — each partition undercounts any token by less
        than n_p/(MG_CAPACITY+1) (the per-batch merge, adding batch counts
        then subtracting the (capacity+1)-th largest and dropping
        non-positives, preserves the bound) — means every token with
        global frequency ≥ N/MG_CAPACITY must survive in at least one
        partition's sketch (pigeonhole over the partition totals). The
        surviving words are the CANDIDATE set: ≤ capacity × partitions
        rows, broadcastable at any corpus size.
      pass 2 (exact recount): a broadcast semi-join restricts the token
        stream to candidates, one partial-agg count per candidate, filter
        to count × MG_CAPACITY ≥ N.

    Because candidates provably form a superset of the true heavy hitters,
    the OUTPUT — every token with frequency ≥ N/MG_CAPACITY and its exact
    count — is deterministic regardless of partitioning, so the driver
    hash-checks it against a plain GROUP BY / HAVING oracle. The MG
    lower-bound contract of the sketch pass itself (_mg_sketch) is
    asserted in tests.

    This is the production shape (sketch to prune, exact pass to
    confirm): two token scans, but both read the staged token store
    (staged_tokenized_docs — no regex re-tokenize), the shuffle of
    pass 1 is capacity-bounded and pass 2's is candidate-bounded —
    neither grows with the vocabulary.

    Plan-audit note: the crossJoin broadcasts the ONE-ROW corpus total
    (the N in the n·capacity ≥ N threshold) — the BNLJ and its
    SinglePartition exchange move exactly one aggregated row, the
    documented bounded-side pattern."""
    from pyspark.sql import functions as F

    from .text import staged_tokenized_docs

    docs = staged_tokenized_docs(spark, sf_dir)
    tok = docs.select(F.explode(F.col("ws")).alias("word"))

    candidates = _mg_sketch(tok).select("word").distinct()
    total = tok.agg(F.count(F.lit(1)).alias("total"))
    return (
        tok.join(F.broadcast(candidates), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n") * MG_CAPACITY >= F.col("total"))
        .select("word", "n")
        .orderBy(F.col("n").desc(), F.col("word").asc())
    )


HEAVY_HITTERS_SQL = rf"""
WITH tok AS (
  SELECT unnest(list_filter(str_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
tot AS (SELECT count(*) AS total FROM tok),
cnt AS (SELECT word, count(*) AS n FROM tok GROUP BY word)
SELECT word, n FROM cnt, tot
WHERE n * {MG_CAPACITY} >= total
ORDER BY n DESC, word
"""


def grouped_agg_median_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation median account balance through a GROUPED_AGG pandas UDF —
    the custom-UDAF tier of the UDF surface (scalar pandas_udf, grouped-map
    applyInPandas, mapInPandas/Arrow, UDTF, and stateful are covered by
    sibling queries; this is the one aggregate-shaped tier).

    A GROUPED_AGG UDF participates in a real aggregation plan: Spark
    shuffles on the group key and hands each group's column to the UDF as a
    pandas Series (no partial aggregation — the UDF is a black box, which
    is exactly the trade to document vs built-in percentile_approx at
    scale). Median is computed with DuckDB's own interpolation for
    even-sized groups — quantile_cont(0.5) = lo + 0.5*(hi-lo) — rather
    than pandas' (lo+hi)/2: algebraically equal, but the two IEEE
    evaluation orders can differ in the last ulp, and the oracle hash
    compares exact stringified doubles.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def median_udf(v: pd.Series) -> float:
        s = v.dropna().sort_values().reset_index(drop=True)
        n = len(s)
        if n == 0:
            return float("nan")
        if n % 2 == 1:
            return float(s.iloc[n // 2])
        lo, hi = float(s.iloc[n // 2 - 1]), float(s.iloc[n // 2])
        return lo + 0.5 * (hi - lo)

    # Spark disallows mixing GROUPED_AGG pandas UDFs with built-in
    # aggregates in one agg, so the row count is a pandas UDF too.
    @pandas_udf("long")
    def count_udf(v: pd.Series) -> int:
        return len(v)

    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(
            median_udf("c_acctbal").alias("median_balance"),
            count_udf("c_acctbal").alias("n_customers"),
        )
        .orderBy("c_nationkey")
    )


GROUPED_AGG_MEDIAN_SQL = """
SELECT c_nationkey,
       median(c_acctbal) AS median_balance,
       CAST(count(*) AS BIGINT) AS n_customers
FROM customer
GROUP BY c_nationkey
ORDER BY c_nationkey
"""
