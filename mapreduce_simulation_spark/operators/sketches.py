"""Deterministic mergeable sketch tables beyond HLL: a dyadic-histogram
quantile sketch and an explicit cross-engine Bloom filter.

Both follow the sketch-table discipline functions/hll.py established: every
step is integer arithmetic both engines reproduce bit-for-bit (shared
affine/polynomial hash constants from functions/hashing.py, integer rank
targets via integer division — no float quantile math, no engine-private
sketch state), so the approximate operators carry EXACT value-hash DuckDB
oracles while the accuracy-vs-exact envelopes are asserted in pytest.

Reference parity note: the reference engine (HaolingPu/MapReduce-Simulation)
has no sketch surface at all — its only aggregation is the executable
reducer fold (reference worker/__main__.py:241-249). These operators are
part of the LLM-pipeline extension tier: at 100 TB, percentile dashboards
and membership-prefilter joins must run from metadata-scale sketch tables,
not raw scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..tables import load_table
from ..staging import memoized_plan

# ---------------------------------------------------------------------------
# Quantile sketch: fixed-width dyadic histogram, sum-mergeable.
# ---------------------------------------------------------------------------

QSK_WIDTH = 128  # bucket width in whole dollars: ≤ ~3.9k buckets over TPC-H
# totalprice's [0, 500k) domain — the sketch state is (month, bucket, cnt),
# bounded by domain/width per group regardless of row count.

# (numerator, denominator, output column) — rank targets as integer
# ceil-division so 0.9·n never touches float (0.9*10 = 9.000000000000002
# would ceil differently across engines at exact boundaries).
QSK_QUANTILES = ((1, 2, "p50_est"), (9, 10, "p90_est"), (99, 100, "p99_est"))


@memoized_plan
def quantile_sketch_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order-value percentiles served from a mergeable histogram
    sketch — the percentile-dashboard-as-sketch-table pattern.

    Stage 1 (the sketch): per (year, month, DAY) bucket counts with
    bucket = floor(floor(o_totalprice) / 128). floor of an identical IEEE
    double is engine-identical, and the per-day state is ≤ |domain|/128
    rows — a metadata-scale table a production pipeline appends at ingest.
    Stage 2 (the merge): months consume their days by SUMMING counts —
    the sum-mergeability that lets the rollup never re-read raw orders
    (the HLL monthly rollup's max-merge analogue).
    Stage 3 (the estimate): per month, rank target r_q = ceil(q·n) as
    integer division, cumulative bucket counts via one window ordered by
    bucket (partition size ≤ buckets, NOT rows), estimate = the exclusive
    upper edge (b+1)·128 of the first bucket whose cumulative count
    reaches r_q. Everything integer → exact oracle; the envelope
    exact_p < est ≤ exact_p + 128 (the estimate is the EXCLUSIVE upper
    bucket edge, strictly above the true percentile) is asserted in
    pytest against the true percentiles.

    Scale: state rows ≤ months × 3.9k buckets whatever the order count;
    the raw scan aggregates with map-side combine on (yr, mo, d, b); the
    estimate window runs per month over bucket rows only.
    """
    orders = load_table(spark, sf_dir, "orders")
    day_state = (
        orders.select(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            F.dayofmonth("o_orderdate").alias("d"),
            F.floor(
                F.floor(F.col("o_totalprice")).cast("long") / QSK_WIDTH
            )
            .cast("long")
            .alias("b"),
        )
        .groupBy("yr", "mo", "d", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    month_state = day_state.groupBy("yr", "mo", "b").agg(
        F.sum("cnt").alias("cnt")
    )
    w_mon = Window.partitionBy("yr", "mo")
    cum = (
        month_state.withColumn("n", F.sum("cnt").over(w_mon))
        .withColumn(
            "cum",
            F.sum("cnt").over(
                w_mon.orderBy("b").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
    )
    aggs = [F.max("n").cast("long").alias("n_orders")]
    for num, den, name in QSK_QUANTILES:
        rank = F.expr(f"(n * {num} + {den - 1}) DIV {den}")
        aggs.append(
            F.min(
                F.when(
                    F.col("cum") >= rank,
                    (F.col("b") + 1) * QSK_WIDTH,
                )
            )
            .cast("long")
            .alias(name)
        )
    return cum.groupBy("yr", "mo").agg(*aggs).orderBy("yr", "mo")


def _qsk_est_sql() -> str:
    terms = ", ".join(
        f"CAST(min(CASE WHEN cum >= (n * {num} + {den - 1}) // {den} "
        f"THEN (b + 1) * {QSK_WIDTH} END) AS BIGINT) AS {name}"
        for num, den, name in QSK_QUANTILES
    )
    return terms


QUANTILE_SKETCH_MONTHLY_SQL = f"""
WITH day_state AS (
  SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
         day(o_orderdate) AS d,
         CAST(FLOOR(o_totalprice) AS BIGINT) // {QSK_WIDTH} AS b,
         count(*) AS cnt
  FROM orders GROUP BY 1, 2, 3, 4
),
month_state AS (
  SELECT yr, mo, b, sum(cnt) AS cnt FROM day_state GROUP BY 1, 2, 3
),
cum AS (
  SELECT yr, mo, b,
         sum(cnt) OVER (PARTITION BY yr, mo) AS n,
         sum(cnt) OVER (PARTITION BY yr, mo ORDER BY b
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM month_state
)
SELECT yr, mo, CAST(max(n) AS BIGINT) AS n_orders, {_qsk_est_sql()}
FROM cum GROUP BY yr, mo
ORDER BY yr, mo
"""


# ---------------------------------------------------------------------------
# Bloom filter: explicit bit-position sketch table + membership audit.
# ---------------------------------------------------------------------------

# Filter sized from the reference cardinality, not a fixed constant: a
# frozen m saturates silently as the corpus grows (r12 advice: 2^15 bits
# is fill ≈ 0.26 at sf0.1 but ≈ 0.95 at sf1 — FPR ≈ 0.8, a useless
# prefilter that still passed its fill-derived test bound). m is the pure
# integer BITS_PER_KEY·n_ref, so fill ≈ K/BITS_PER_KEY = 1/8 and
# FPR ≈ (1/8)^4 ≈ 2.4e-4 at EVERY scale; both engines derive the same m
# from the same count (Spark: one bounded scalar count() at plan build;
# the oracle: a one-row msz CTE cross-joined in).
BLOOM_BITS_PER_KEY = 32
BLOOM_K = 4  # hash functions (MINHASH_PERMS[0..3] — frozen shared constants)


def _bloom_positions(fp_col: str, m: int) -> list:
    """The K bit positions of a fingerprint (already < P): one affine
    round per hash — pure int64, identical on both engines."""
    return [
        ((F.col(fp_col) * a + b) % H.P % F.lit(m)).alias(f"pos{i}")
        for i, (a, b) in enumerate(H.MINHASH_PERMS[:BLOOM_K])
    ]


def _bloom_positions_sql(fp: str, m: str) -> list[str]:
    return [
        f"(({fp}) * {a} + {b}) % {H.P} % ({m})"
        for a, b in H.MINHASH_PERMS[:BLOOM_K]
    ]


@memoized_plan
def bloom_membership_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership prefilter with its exactness audit — the
    runtime_filtered_join pattern made explicit and cross-engine (Spark's
    builtin bloom_filter_agg state is engine-private; this filter is a
    TABLE of set bit positions both engines derive identically).

    Reference corpus = even doc_ids, probe batch = odd (the
    incremental_dedup split). Build: m = BITS_PER_KEY·|ref| (sized from
    the reference cardinality so the fill ratio stays ≈ 1/8 at every
    scale — a frozen m saturates silently as the corpus grows); the
    filter is the DISTINCT bit positions of the reference fingerprints
    under K=4 affine hashes — ≤ K·|ref| rows, a broadcast-sized sketch
    table a pipeline persists beside the corpus. Probe: a batch doc is
    bloom_hit iff all K of its positions are set (4 explode rows per doc
    joined against the filter, hit count == K); exact_hit is the true
    fingerprint match. The audit emits both verdicts per probe doc so the
    one-sided-error contract is a QUERY RESULT: bloom_hit ≥ exact_hit
    row-for-row (no false negatives — pytest-asserted), false positives
    bounded by the fill ratio (≈ (set_bits/m)^K, also pytest-asserted,
    along with a hard fill ≤ 1/4 saturation guard).

    Scale: one bounded scalar count sizes m, the filter build aggregates
    the reference once into ≤ K·|ref| rows; probing shuffles K small ints
    per batch doc against a broadcastable filter — the shape that lets a
    100 TB ingest skip re-scanning the corpus for exact-dup candidates.
    """
    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select(
        "doc_id", H.char_hash(F.col("text")).alias("fp")
    )
    ref = fps.where(F.col("doc_id") % 2 == 0)
    probe = fps.where(F.col("doc_id") % 2 == 1)
    # bounded driver fetch: ONE scalar (the reference cardinality) sizes
    # the filter; the oracle derives the identical m in its msz CTE
    m = BLOOM_BITS_PER_KEY * ref.count()
    filter_bits = (
        ref.select(
            F.explode(F.array(*_bloom_positions("fp", m))).alias("pos")
        )
        .distinct()
    )
    probe_pos = probe.select(
        "doc_id",
        F.explode(F.array(*_bloom_positions("fp", m))).alias("pos"),
    )
    hits = (
        probe_pos.join(F.broadcast(filter_bits), "pos")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nhit"))
    )
    exact = (
        probe.join(
            ref.select(F.col("fp").alias("rfp")).distinct(),
            F.col("fp") == F.col("rfp"),
            "left_semi",
        )
        .select("doc_id", F.lit(1).alias("exact_hit"))
    )
    return (
        probe.select("doc_id")
        .join(hits, "doc_id", "left")
        .join(exact, "doc_id", "left")
        .select(
            "doc_id",
            (F.coalesce(F.col("nhit"), F.lit(0)) == BLOOM_K)
            .cast("int")
            .alias("bloom_hit"),
            F.coalesce(F.col("exact_hit"), F.lit(0))
            .cast("int")
            .alias("exact_hit"),
        )
        .orderBy("doc_id")
    )


def _bloom_pos_union_sql(src: str, fp: str) -> str:
    # msz is the one-row filter-size CTE (m = BITS_PER_KEY·|ref|) — the
    # cross join replays the literal m the Spark builder computed from
    # its bounded count()
    return " UNION ALL ".join(
        f"SELECT doc_id, {p} AS pos FROM {src} CROSS JOIN msz"
        for p in _bloom_positions_sql(fp, "msz.m")
    )


BLOOM_MEMBERSHIP_AUDIT_SQL = f"""
WITH fps AS (
  SELECT doc_id, {H.char_hash_sql('text')} AS fp FROM documents
),
ref AS (SELECT * FROM fps WHERE doc_id % 2 = 0),
probe AS (SELECT * FROM fps WHERE doc_id % 2 = 1),
msz AS (SELECT {BLOOM_BITS_PER_KEY} * count(*) AS m FROM ref),
filter_bits AS (
  SELECT DISTINCT pos FROM ({_bloom_pos_union_sql('ref', 'fp')})
),
probe_pos AS ({_bloom_pos_union_sql('probe', 'fp')}),
hits AS (
  SELECT doc_id, count(*) AS nhit
  FROM probe_pos JOIN filter_bits USING (pos)
  GROUP BY doc_id
),
exact AS (
  SELECT DISTINCT p.doc_id
  FROM probe p JOIN ref r ON p.fp = r.fp
)
SELECT p.doc_id,
       CAST(CASE WHEN coalesce(h.nhit, 0) = {BLOOM_K} THEN 1 ELSE 0 END
            AS INT) AS bloom_hit,
       CAST(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END
            AS INT) AS exact_hit
FROM probe p
LEFT JOIN hits h ON h.doc_id = p.doc_id
LEFT JOIN exact e ON e.doc_id = p.doc_id
ORDER BY p.doc_id
"""


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch: order-statistics merge, the only
# sketch discipline that also estimates SET INTERSECTIONS.
# ---------------------------------------------------------------------------

KMV_K = 128  # sketch size; distinct-count rsd ~ 1/sqrt(K-2) ~ 8.9%

# Two affine rounds over the shared frozen constants (rounds 4/5 —
# disjoint from HLL's 0/1 and Bloom's 0-3 so no operator pair shares a
# hash family). int64-safe: every product < 1e18 < 2^63.
(_KA1, _KB1), (_KA2, _KB2) = H.MINHASH_PERMS[4], H.MINHASH_PERMS[5]


def _kmv_hash(col):
    h1 = (F.col(col) * _KA1 + _KB1) % H.P
    return (h1 * _KA2 + _KB2) % H.P


def _kmv_hash_sql(expr: str) -> str:
    return f"((({expr}) * {_KA1} + {_KB1}) % {H.P} * {_KA2} + {_KB2}) % {H.P}"


# (K-1)*P — the KMV estimator numerator, exact in double (1.27e11 < 2^53).
_KMV_NUM = (KMV_K - 1) * H.P


@memoized_plan
def kmv_month_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month distinct-buyer overlap served from KMV
    (k-minimum-values) sketches — the capability max-merge registers
    (HLL) cannot provide: a KMV sketch is the K smallest hash values of
    a set, and because min-K(A ∪ B) = min-K(min-K(A) ∪ min-K(B)) the
    sketches both UNION losslessly (order-statistics merge) and estimate
    INTERSECTIONS: the union sketch is a uniform K-sample of A ∪ B, so
    the fraction of its values present in both sides estimates Jaccard,
    and Ĵ · n̂_union estimates |A ∩ B|.

    Per month m: sketch = K smallest two-round-affine hashes of the
    month's DISTINCT o_custkey values; n̂ = (K-1)·P / h_(K) when the
    month holds ≥ K values, EXACTLY the distinct count otherwise (the
    standard small-set rule — at degenerate scales the sketch answer is
    exact, pytest-asserted). For consecutive months (m, m+1): the union
    sketch re-ranks the two sketches' values, shared_k counts union-
    sketch values present in BOTH, jaccard_est = shared_k / ku,
    inter_est = jaccard_est · union_est — month-over-month retained
    buyers without ever re-reading raw orders.

    Cross-engine exactness: hashing and ranking are pure int64 (shared
    frozen constants, both engines); the ONLY float steps are single
    IEEE divisions/products of integer-exact operands — deterministic,
    so the oracle is an exact value-hash match while the accuracy
    envelopes vs true distinct/overlap counts live in pytest.

    Scale: one distinct-exchange over the raw scan, then everything
    operates on ≤ K rows per month (the rank-≤-K filter compiles to
    WindowGroupLimit — per-partition top-K BEFORE the shuffle, so the
    full month's distinct set is never materialized on one node); the
    sketch table is months × K rows — metadata-scale state a 100 TB
    pipeline persists and serves dashboards from forever."""
    orders = load_table(spark, sf_dir, "orders")
    vals = (
        orders.select(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .alias("mi"),
            _kmv_hash("o_custkey").alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("mi").orderBy("h")
    sk = (
        vals.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= KMV_K)
        .select("mi", "h")
    )
    stats = sk.groupBy("mi").agg(
        F.count(F.lit(1)).cast("int").alias("nk"),
        F.max("h").alias("kth"),
    )
    est = stats.select(
        "mi",
        F.when(
            F.col("nk") < KMV_K, F.col("nk").cast("double")
        )
        .otherwise(F.lit(_KMV_NUM) / F.col("kth"))
        .alias("n_est"),
    )
    both = (
        sk.select("mi", "h", F.lit(1).alias("ia"), F.lit(0).alias("ib"))
        .unionByName(
            sk.select(
                (F.col("mi") - 1).alias("mi"),
                "h",
                F.lit(0).alias("ia"),
                F.lit(1).alias("ib"),
            )
        )
        .groupBy("mi", "h")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    )
    uk = (
        both.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= KMV_K)
    )
    pair = uk.groupBy("mi").agg(
        F.count(F.lit(1)).cast("int").alias("ku"),
        F.max("h").alias("kth_u"),
        F.sum((F.col("ia") * F.col("ib"))).cast("int").alias("shared_k"),
    )
    union_est = F.when(
        F.col("ku") < KMV_K, F.col("ku").cast("double")
    ).otherwise(F.lit(_KMV_NUM) / F.col("kth_u"))
    jac = F.col("shared_k") / F.col("ku")
    ea = est.select(F.col("mi").alias("mi"), F.col("n_est").alias("n_est"))
    eb = est.select(
        (F.col("mi") - 1).alias("mi"), F.col("n_est").alias("next_n_est")
    )
    return (
        pair.join(ea, "mi")
        .join(eb, "mi")  # inner joins drop phantom pair groups at the edges
        .select(
            (F.col("mi") / F.lit(12)).cast("int").alias("yr"),
            (F.col("mi") % 12 + 1).cast("int").alias("mo"),
            "n_est",
            "next_n_est",
            "ku",
            "shared_k",
            jac.alias("jaccard_est"),
            (jac * union_est).alias("inter_est"),
        )
        .orderBy("yr", "mo")
    )


# Shared CTE prefix: per-month KMV sketch + per-month estimates — reused
# verbatim by the streaming ingest twin's oracle (same merge result).
_KMV_SKETCH_CTES = f"""
vals AS (
  SELECT DISTINCT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi,
         {_kmv_hash_sql('o_custkey')} AS h
  FROM orders
),
sk AS (
  SELECT mi, h FROM (
    SELECT mi, h, row_number() OVER (PARTITION BY mi ORDER BY h) AS rk
    FROM vals
  ) WHERE rk <= {KMV_K}
),
stats AS (
  SELECT mi, CAST(count(*) AS INT) AS nk, max(h) AS kth
  FROM sk GROUP BY mi
),
est AS (
  SELECT mi, CASE WHEN nk < {KMV_K} THEN CAST(nk AS DOUBLE)
                  ELSE CAST({_KMV_NUM} AS BIGINT) / kth END AS n_est
  FROM stats
)"""

KMV_MONTH_OVERLAP_SQL = f"""
WITH {_KMV_SKETCH_CTES},
u AS (
  SELECT mi, h, max(ia) AS ia, max(ib) AS ib FROM (
    SELECT mi, h, 1 AS ia, 0 AS ib FROM sk
    UNION ALL
    SELECT mi - 1 AS mi, h, 0 AS ia, 1 AS ib FROM sk
  ) GROUP BY mi, h
),
uk AS (
  SELECT mi, h, ia, ib FROM (
    SELECT mi, h, ia, ib,
           row_number() OVER (PARTITION BY mi ORDER BY h) AS rk
    FROM u
  ) WHERE rk <= {KMV_K}
),
pair AS (
  SELECT mi, CAST(count(*) AS INT) AS ku, max(h) AS kth_u,
         CAST(sum(ia * ib) AS INT) AS shared_k
  FROM uk GROUP BY mi
)
SELECT CAST(p.mi // 12 AS INT) AS yr, CAST(p.mi % 12 + 1 AS INT) AS mo,
       ea.n_est AS n_est, eb.n_est AS next_n_est,
       p.ku AS ku, p.shared_k AS shared_k,
       CAST(p.shared_k AS BIGINT) / p.ku AS jaccard_est,
       (CAST(p.shared_k AS BIGINT) / p.ku) *
       (CASE WHEN p.ku < {KMV_K} THEN CAST(p.ku AS DOUBLE)
             ELSE CAST({_KMV_NUM} AS BIGINT) / p.kth_u END) AS inter_est
FROM pair p
JOIN est ea ON ea.mi = p.mi
JOIN est eb ON eb.mi = p.mi + 1
ORDER BY yr, mo
"""

KMV_MONTH_ESTIMATES_SQL = f"""
WITH {_KMV_SKETCH_CTES}
SELECT CAST(s.mi // 12 AS INT) AS yr, CAST(s.mi % 12 + 1 AS INT) AS mo,
       s.nk AS k_used, e.n_est AS n_est
FROM stats s JOIN est e ON e.mi = s.mi
ORDER BY yr, mo
"""
