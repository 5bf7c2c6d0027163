"""Accuracy envelopes + structural contracts for the r12 sketch tables
(operators/sketches.py). The Spark ≡ DuckDB exactness is the registry
sweep's job (both queries carry full-replay oracles); these tests pin the
sketches' ACCURACY against exact ground truth and the state-size bounds
the 100 TB story rests on.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR, delta_batch_dirs
from mapreduce_simulation_spark.operators import sketches as SK
from mapreduce_simulation_spark.tables import load_table


def test_quantile_sketch_envelope_vs_exact(spark):
    """For every month and every configured quantile: the sketch estimate
    is an upper edge at most one bucket width above the true percentile
    (exact_p ≤ est < exact_p + WIDTH after integer flooring) — the
    histogram sketch's whole guarantee."""
    got = {
        (r.yr, r.mo): r for r in SK.quantile_sketch_monthly(spark, SF_DIR).collect()
    }
    assert got, "sketch returned no months"
    duck = duckdb.connect()
    duck.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{SF_DIR}/orders.parquet'"
    )
    exact = duck.execute(
        """
        SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
               count(*) AS n,
               quantile_disc(FLOOR(o_totalprice), 0.50) AS p50,
               quantile_disc(FLOOR(o_totalprice), 0.90) AS p90,
               quantile_disc(FLOOR(o_totalprice), 0.99) AS p99
        FROM orders GROUP BY 1, 2
        """
    ).fetchall()
    assert len(exact) == len(got)
    for yr, mo, n, p50, p90, p99 in exact:
        row = got[(yr, mo)]
        assert row.n_orders == n
        for est, true in (
            (row.p50_est, p50),
            (row.p90_est, p90),
            (row.p99_est, p99),
        ):
            # est is the exclusive upper edge of the bucket holding the
            # ceil(q·n)-th value: strictly above it, within one width
            assert true < est <= true + SK.QSK_WIDTH, (yr, mo, est, true)


def test_quantile_sketch_state_is_metadata_scale(spark):
    """The monthly sketch state is bounded by buckets, not rows — the
    claim that makes the percentile dashboard a metadata-scale query."""
    orders = load_table(spark, SF_DIR, "orders")
    state_rows = (
        orders.select(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            F.floor(
                F.floor(F.col("o_totalprice")).cast("long") / SK.QSK_WIDTH
            ).alias("b"),
        )
        .distinct()
        .count()
    )
    n_months = orders.select(
        F.year("o_orderdate"), F.month("o_orderdate")
    ).distinct().count()
    max_buckets = 500_000 // SK.QSK_WIDTH + 1  # totalprice domain / width
    assert state_rows <= n_months * max_buckets
    # and the state is genuinely smaller than the input at this sf
    assert state_rows < orders.count()


def test_bloom_audit_one_sided_error(spark):
    """The Bloom contract as observed on the real corpus: zero false
    negatives (exact_hit=1 ⇒ bloom_hit=1), and the false-positive rate is
    bounded by a loose multiple of the analytic (fill_ratio)^K."""
    rows = SK.bloom_membership_audit(spark, SF_DIR).collect()
    assert rows, "no probe docs"
    assert all(r.bloom_hit >= r.exact_hit for r in rows), "false negative!"
    # analytic FPR bound from the actual fill ratio
    docs = load_table(spark, SF_DIR, "documents")
    from mapreduce_simulation_spark.functions import hashing as H

    ref = docs.where(F.col("doc_id") % 2 == 0).select(
        H.char_hash(F.col("text")).alias("fp")
    )
    m = SK.BLOOM_BITS_PER_KEY * ref.count()
    set_bits = (
        ref.select(
            F.explode(F.array(*SK._bloom_positions("fp", m))).alias("pos")
        )
        .distinct()
        .count()
    )
    assert set_bits <= m
    fill = set_bits / m
    # cardinality-sized filter must NOT saturate — fill ≈ K/BITS_PER_KEY
    # = 1/8 by construction; a fill past 1/4 means the sizing broke and
    # the FPR bound below would be vacuous (r12 advice)
    assert fill <= 0.25, fill
    negatives = [r for r in rows if r.exact_hit == 0]
    fps = sum(r.bloom_hit for r in negatives)
    if negatives:
        observed = fps / len(negatives)
        # 4× headroom + additive slack for small probe sets
        bound = 4 * fill**SK.BLOOM_K + 3 / len(negatives)
        assert observed <= bound, (observed, bound, fill)


def test_bloom_positions_match_sql_twin():
    """The Spark position expressions and the SQL twin are generated from
    the same constants — replay both in plain Python over a few
    fingerprints and against DuckDB."""
    duck = duckdb.connect()
    from mapreduce_simulation_spark.functions.hashing import MINHASH_PERMS, P

    m = 1 << 15  # any positive m — the generators must agree for all
    for fp in (0, 1, 999_999_937, 123_456_789):
        py = [
            (fp * a + b) % P % m
            for a, b in MINHASH_PERMS[: SK.BLOOM_K]
        ]
        # CAST like the production fp (char_hash_sql folds in BIGINT);
        # a bare INT32 literal would multiply in 32-bit and overflow
        sql = [
            duck.execute(f"SELECT {expr}").fetchone()[0]
            for expr in SK._bloom_positions_sql(
                f"CAST({fp} AS BIGINT)", str(m)
            )
        ]
        assert py == sql


@pytest.mark.parametrize("n,num,den", [(10, 9, 10), (7, 1, 2), (100, 99, 100), (1, 99, 100)])
def test_rank_target_is_integer_ceil(n, num, den):
    """(n·num + den − 1) // den == ceil(n·num/den) — the float-free rank
    arithmetic both engines share."""
    import math

    assert (n * num + den - 1) // den == math.ceil(n * num / den)


def test_streaming_quantile_ingest_equals_batch_sketch(spark):
    """Online ≡ offline for the histogram sketch: the multi-batch
    delta-log rollup must be ROW-IDENTICAL to the one-shot batch sketch
    (sum-merge associativity), and the drain must really have produced
    multiple delta batches."""
    from mapreduce_simulation_spark.streaming.stateful import (
        streaming_quantile_sketch_ingest,
    )

    df = streaming_quantile_sketch_ingest(spark, SF_DIR)
    online = [tuple(r) for r in df.collect()]
    offline = [
        tuple(r)
        for r in SK.quantile_sketch_monthly(spark, SF_DIR).collect()
    ]
    assert online == offline and len(online) > 0
    batches = delta_batch_dirs(df)
    assert batches
    n_deltas = len(batches)
    assert n_deltas > 1, f"expected multi-batch drain, got {n_deltas}"


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=600_000), min_size=1, max_size=400),
    st.sampled_from(SK.QSK_QUANTILES),
)
def test_quantile_sketch_math_envelope_property(values, q):
    """Pure-Python replay of the sketch arithmetic over arbitrary value
    sets: for any data and any configured quantile, the bucket-edge
    estimate covers the true ceil(q·n)-th order statistic from above by
    less than one bucket width — the guarantee the Spark/DuckDB twins
    implement (same integer rank target, same cumulative-bucket walk)."""
    num, den, _name = q
    from collections import Counter

    buckets = Counter(v // SK.QSK_WIDTH for v in values)
    n = len(values)
    rank = (n * num + den - 1) // den
    cum = 0
    est = None
    for b in sorted(buckets):
        cum += buckets[b]
        if cum >= rank:
            est = (b + 1) * SK.QSK_WIDTH
            break
    true = sorted(values)[rank - 1]
    assert est is not None
    assert true < est <= true + SK.QSK_WIDTH


# ---------------------------------------------------------------------------
# KMV sketch (r13): order-statistics merge + intersection estimates.
# ---------------------------------------------------------------------------

def _kmv_exact_months(sf_dir):
    duck = duckdb.connect()
    duck.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'"
    )
    months = dict(
        duck.execute(
            """
            SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1,
                   count(DISTINCT o_custkey)
            FROM orders GROUP BY 1
            """
        ).fetchall()
    )
    inter = dict(
        ((yr, mo), n)
        for yr, mo, n in duck.execute(
            """
            WITH mc AS (
              SELECT DISTINCT
                     year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi,
                     o_custkey AS c
              FROM orders
            )
            SELECT CAST(a.mi // 12 AS INT), CAST(a.mi % 12 + 1 AS INT),
                   count(*)
            FROM mc a JOIN mc b ON b.mi = a.mi + 1 AND b.c = a.c
            GROUP BY 1, 2
            """
        ).fetchall()
    )
    return months, inter


def test_kmv_exact_mode_at_degenerate_scale(spark):
    """sf0.001: every month holds < K distinct buyers, so the sketch IS
    the full value set — n_est and inter_est must equal the exact
    distinct/overlap counts (the small-set rule, not an envelope)."""
    rows = SK.kmv_month_overlap(spark, SF_DIR).collect()
    assert rows
    months, inter = _kmv_exact_months(SF_DIR)
    for r in rows:
        mi = r.yr * 12 + r.mo - 1
        assert months[mi] < SK.KMV_K, "not degenerate — fixture grew"
        # inter_est is exact only if the UNION sketch is also untruncated:
        # each month being < K does not imply |month ∪ next| <= K, and a
        # truncated union silently degrades inter_est to an estimate.
        union = months[mi] + months[mi + 1] - inter.get((r.yr, r.mo), 0)
        assert union <= SK.KMV_K, (
            f"union {union} exceeds K — fixture left degenerate mode"
        )
        assert r.n_est == float(months[mi]), r
        assert r.next_n_est == float(months[mi + 1]), r
        assert r.inter_est == pytest.approx(
            float(inter.get((r.yr, r.mo), 0)), abs=1e-9
        ), r


def test_kmv_estimate_envelope(spark):
    """sf0.01: months exceed K distinct buyers (estimate mode is actually
    exercised) and the KMV estimator lands within its sampling envelope —
    rsd ≈ 1/sqrt(K-2) ≈ 8.9%, asserted at ~4σ per month plus a mean-error
    bound across all 80 months."""
    import os

    # estimate mode needs months with > K distinct buyers — one SF up from
    # the default fixture, resolved from the same data root (TEST_SF_DIR
    # convention) so an env-redirected root still works; skip if absent.
    sf = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
    if not os.path.isdir(sf):
        pytest.skip(f"estimate-mode fixture missing: {sf}")
    rows = SK.kmv_month_overlap(spark, sf).collect()
    months, inter = _kmv_exact_months(sf)
    errs = []
    n_estimate_mode = 0
    for r in rows:
        mi = r.yr * 12 + r.mo - 1
        exact = months[mi]
        if exact >= SK.KMV_K:
            n_estimate_mode += 1
        errs.append(abs(r.n_est - exact) / exact)
    assert n_estimate_mode > 0, "no month in estimate mode — raise SF"
    assert max(errs) < 0.40, max(errs)
    assert sum(errs) / len(errs) < 0.12, sum(errs) / len(errs)
    # intersection estimates: individually high-variance (shared_k is a
    # K-sample binomial), so assert the aggregate: total estimated
    # month-over-month retained buyers within 30% of the exact total.
    est_total = sum(r.inter_est for r in rows)
    exact_total = sum(inter.get((r.yr, r.mo), 0) for r in rows)
    assert exact_total > 0
    assert abs(est_total - exact_total) / exact_total < 0.30, (
        est_total,
        exact_total,
    )


def test_kmv_plan_uses_window_group_limit(spark):
    """The rank-≤-K filter must compile to WindowGroupLimit (per-partition
    top-K pushed below the exchange) — the property that keeps a month's
    full distinct set off any single node at 100 TB."""
    plan = SK.kmv_month_overlap(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_streaming_kmv_ingest_equals_batch_sketch(spark):
    """Order-statistics merge is lossless: the drained multi-batch min-K
    state re-ranked equals the one-shot batch sketch row-for-row (the
    oracle SQL is the batch construction — compare against it), and the
    drain really produced multiple delta batches."""
    from mapreduce_simulation_spark.streaming.stateful import (
        streaming_kmv_sketch_ingest,
    )

    df = streaming_kmv_sketch_ingest(spark, SF_DIR)
    got = sorted((r.yr, r.mo, r.k_used, r.n_est) for r in df.collect())
    duck = duckdb.connect()
    duck.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{SF_DIR}/orders.parquet'"
    )
    want = sorted(
        tuple(r) for r in duck.execute(SK.KMV_MONTH_ESTIMATES_SQL).fetchall()
    )
    assert got == want
    batches = delta_batch_dirs(df)
    assert batches, "drain should have staged its delta log"
    assert len(batches) >= 2, batches


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=10_000_000),
        min_size=1,
        max_size=500,
    ),
    st.integers(min_value=1, max_value=7),
)
def test_kmv_order_statistics_merge_property(keys, n_chunks):
    """Pure-Python replay of the KMV merge law over arbitrary key sets and
    arbitrary partitionings: min-K of the distinct hashed universe equals
    min-K of the union of per-chunk min-K sketches — the property that
    makes the streaming ingest row-identical to the batch sketch for ANY
    batch boundaries. Also pins the small-set rule: below K values the
    sketch IS the set, so the estimate is exact."""
    A1, B1 = SK._KA1, SK._KB1
    A2, B2 = SK._KA2, SK._KB2
    P = 1_000_000_007
    K = SK.KMV_K

    def h(x):
        return ((x * A1 + B1) % P * A2 + B2) % P

    universe = sorted({h(x) for x in keys})
    want = universe[:K]
    # arbitrary partition: round-robin into n_chunks
    chunks = [keys[i::n_chunks] for i in range(n_chunks)]
    partials = [sorted({h(x) for x in c})[:K] for c in chunks if c]
    merged = sorted(set().union(*partials))[:K] if partials else []
    assert merged == want
    if len(universe) < K:
        # small-set rule: the sketch holds the whole set — exact count
        assert len(merged) == len(universe)
