"""Distribution-drift statistics between two eras of a feature column.

The data-quality face of the sketch-table discipline: training pipelines
re-ingest sources continuously and must detect when a feature's
distribution moves (schema stays identical — values drift). The standard
report compares a REFERENCE era against the CURRENT era over a bucketed
histogram. The classic PSI metric needs ln() — a transcendental both
engines round differently in the last ulp — so this operator serves the
two drift statistics that are exactly computable cross-engine:

  TVD  total variation distance, Σ_b |p_ref(b) − p_cur(b)| / 2. Kept
       integer-scaled until one final division: Σ|a_b·n2 − c_b·n1| is an
       exact integer sum (decimal(38,0) accumulator — order-insensitive),
       TVD = that sum / (2·n1·n2) — a single IEEE division of exact
       operands, deterministic on both engines.
  KS   two-sample Kolmogorov–Smirnov statistic over the bucketed CDFs,
       max_b |A_b·n2 − C_b·n1| / (n1·n2) with A/C cumulative counts —
       integer max, one final division. The argmax bucket (smallest
       bucket attaining the max) is reported so the drift is localized,
       not just scored.

No transcendental ever runs inside either engine — the same rule that
made the HLL/quantile/Bloom/KMV oracles exact value-hash checks.

Reference parity note: the reference engine (HaolingPu/MapReduce-
Simulation) has no statistics surface; this is LLM-pipeline extension
tier (monitoring a 100 TB continuous ingest for distribution shift).

Scale: ONE scan with an era flag → groupBy(bucket) with conditional
counts (map-side combine; state ≤ |domain|/width buckets regardless of
row count), then all arithmetic runs on the bucket table. The cumulative
window is a SinglePartition exchange over ≤ ~122 bucket rows — bounded
by the price domain, not the data (window-lint whitelisted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table
from ..staging import memoized_plan

DRIFT_SPLIT = "1996-01-01"  # reference era: orders strictly before
DRIFT_BUCKET = 4096  # dollars per histogram bucket (~122 over TPC-H domain)


@memoized_plan
def feature_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row drift report for o_totalprice between the pre-1996
    reference era and the 1996+ current era (see module docstring for
    the integer-scaled TVD/KS construction)."""
    orders = load_table(spark, sf_dir, "orders")
    buckets = (
        orders.select(
            F.floor(F.floor(F.col("o_totalprice")).cast("long") / DRIFT_BUCKET)
            .cast("long")
            .alias("b"),
            (
                F.col("o_orderdate")
                < F.lit(DRIFT_SPLIT).cast("timestamp_ntz")
            ).alias("is_ref"),
        )
        .groupBy("b")
        .agg(
            F.sum(F.col("is_ref").cast("long")).alias("a"),
            F.sum((~F.col("is_ref")).cast("long")).alias("c"),
        )
    )
    totals = buckets.agg(
        F.sum("a").alias("n1"), F.sum("c").alias("n2")
    )
    bt = buckets.crossJoin(F.broadcast(totals))
    w = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # Products are taken over decimal(20,0) operands, NOT int64: counts are
    # < 2^63 (19 digits) and the count×count products reach ~8.5e37 — past
    # 2^63 at era sizes ≳ 3e9 rows, where a long multiply would silently
    # wrap while the DuckDB oracle (sum() → HUGEINT, 128-bit) stays exact.
    # decimal(20,0)×decimal(20,0) → decimal(38,0) keeps both engines
    # integer-exact to 1e38 — beyond any physical corpus.
    dec = lambda c: c.cast("decimal(20,0)")  # noqa: E731
    cum = bt.select(
        "b",
        "n1",
        "n2",
        F.abs(
            dec(F.col("a")) * dec(F.col("n2"))
            - dec(F.col("c")) * dec(F.col("n1"))
        ).alias("d"),
        F.abs(
            dec(F.sum("a").over(w)) * dec(F.col("n2"))
            - dec(F.sum("c").over(w)) * dec(F.col("n1"))
        ).alias("cd"),
    )
    agg = cum.groupBy("n1", "n2").agg(
        F.count(F.lit(1)).cast("int").alias("n_buckets"),
        F.sum("d").alias("tvd_scaled"),
        # lexicographic struct max: largest cum-diff, ties → smallest b
        F.max(F.struct(F.col("cd").alias("v"), (-F.col("b")).alias("nb")))
        .alias("mx"),
    )
    return agg.select(
        F.col("n1").cast("long").alias("n_ref"),
        F.col("n2").cast("long").alias("n_cur"),
        "n_buckets",
        (
            F.col("tvd_scaled").cast("double")
            / (
                F.lit(2).cast("decimal(20,0)")
                * dec(F.col("n1"))
                * dec(F.col("n2"))
            ).cast("double")
        ).alias("tvd"),
        (
            F.col("mx.v").cast("double")
            / (dec(F.col("n1")) * dec(F.col("n2"))).cast("double")
        ).alias("ks_stat"),
        (-F.col("mx.nb")).cast("long").alias("ks_bucket"),
    )


FEATURE_DRIFT_STATS_SQL = f"""
WITH buckets AS (
  -- NULL-neutral era flags: a NULL o_orderdate must land in NEITHER era
  -- (Spark's sum() skips the NULL is_ref rows on both sides), so each
  -- era counts only on its own satisfied comparison — never via ELSE.
  SELECT CAST(FLOOR(o_totalprice) AS BIGINT) // {DRIFT_BUCKET} AS b,
         sum(CASE WHEN o_orderdate < TIMESTAMP '{DRIFT_SPLIT}'
                  THEN 1 ELSE 0 END) AS a,
         sum(CASE WHEN o_orderdate >= TIMESTAMP '{DRIFT_SPLIT}'
                  THEN 1 ELSE 0 END) AS c
  FROM orders GROUP BY 1
),
totals AS (
  SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(c) AS BIGINT) AS n2
  FROM buckets
),
cum AS (
  SELECT b, n1, n2,
         abs(a * n2 - c * n1) AS d,
         abs(sum(a) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) * n2 -
             sum(c) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) * n1) AS cd
  FROM buckets CROSS JOIN totals
)
SELECT CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur,
       CAST(count(*) AS INT) AS n_buckets,
       -- HUGEINT denominators: n1*n2 as BIGINT would overflow-error in
       -- DuckDB at era sizes ~2.1e9 rows (n1*n2 >= 2^62) while the
       -- decimal(38,0) Spark side still works; widen before multiplying.
       CAST(sum(d) AS DOUBLE)
         / CAST(2 * CAST(n1 AS HUGEINT) * n2 AS DOUBLE) AS tvd,
       CAST(max(cd) AS DOUBLE)
         / CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE) AS ks_stat,
       (SELECT min(b) FROM cum c2 WHERE c2.cd = (SELECT max(cd) FROM cum))
         AS ks_bucket
FROM cum GROUP BY n1, n2
"""


HEAVY_CHANGE_TOPK = 20


def heavy_change_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-change detection over the corpus vocabulary: the
    HEAVY_CHANGE_TOPK tokens whose relative frequency moved most between
    the even-doc_id reference era and the odd-doc_id current era (the
    incremental_dedup split). Where `feature_drift_stats` scores HOW MUCH
    a distribution moved, this localizes WHICH keys moved — the
    deltoids/heavy-change question a training pipeline asks when a new
    crawl shifts its vocabulary.

    shift = |a·n2 − c·n1| / (n1·n2) — the absolute difference of the two
    relative frequencies, kept integer-scaled (decimal(20,0) operands,
    exact to 1e38 — the drift-stats rule) until ONE final IEEE division,
    so the oracle is an exact value-hash match. Ties broken by word so
    the top-k is total-ordered.

    Scale: tokenize → ONE exchange on (word, map-side combined era
    counts); totals are a broadcast one-row frame; the top-k is
    TakeOrderedAndProject (per-partition k, O(k) driver merge) — no
    global sort, no second scan."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            (F.col("doc_id") % 2 == 0).alias("is_ref"),
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias(
                "word"
            ),
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(
            F.sum(F.col("is_ref").cast("long")).alias("a"),
            F.sum((~F.col("is_ref")).cast("long")).alias("c"),
        )
    )
    totals = counts.agg(F.sum("a").alias("n1"), F.sum("c").alias("n2"))
    dec = lambda c: c.cast("decimal(20,0)")  # noqa: E731
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "word",
            F.col("a").alias("n_ref"),
            F.col("c").alias("n_cur"),
            (
                F.abs(
                    dec(F.col("a")) * dec(F.col("n2"))
                    - dec(F.col("c")) * dec(F.col("n1"))
                ).cast("double")
                / (dec(F.col("n1")) * dec(F.col("n2"))).cast("double")
            ).alias("shift"),
        )
        .orderBy(F.col("shift").desc(), F.col("word").asc())
        .limit(HEAVY_CHANGE_TOPK)
    )


HEAVY_CHANGE_TERMS_SQL = f"""
WITH counts AS (
  -- NULL-neutral: NOT is_ref (not ELSE) so a NULL doc_id row lands in
  -- NEITHER era, matching Spark's NULL-skipping sum on both flags.
  SELECT word,
         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS a,
         sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS c
  FROM (
    SELECT doc_id % 2 = 0 AS is_ref,
           unnest(string_split_regex(lower(text), '\\s+')) AS word
    FROM documents
  )
  WHERE word <> ''
  GROUP BY word
),
totals AS (
  SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(c) AS BIGINT) AS n2
  FROM counts
)
SELECT word,
       CAST(a AS BIGINT) AS n_ref,
       CAST(c AS BIGINT) AS n_cur,
       CAST(abs(a * n2 - c * n1) AS DOUBLE) /
       CAST(n1 * CAST(n2 AS HUGEINT) AS DOUBLE) AS shift
FROM counts CROSS JOIN totals
ORDER BY shift DESC, word ASC
LIMIT {HEAVY_CHANGE_TOPK}
"""
