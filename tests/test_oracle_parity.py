"""Every registered query matches its DuckDB oracle at sf0.001 — the same
comparison the driver runs at sf0.01 (row count, column names, value
multiset). Mirrors the reference's golden-output strategy
(reference tests/test_integration_01.py compares against
tests/testdata/correct/word_count_correct.txt) with a generated oracle."""

from __future__ import annotations

import math

import pytest

from mapreduce_simulation_spark.plans import registry


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def _multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


QUERIES = sorted(registry.queries())


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(name, spark, duck, sf_dir):
    fn = registry.queries()[name]
    sdf = fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    oracle = registry.oracle_sql().get(name)
    if oracle is None:
        # rows-only check for non-SQL-expressible ops
        assert isinstance(srows, list)
        return
    res = duck.execute(oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(orows), f"{name}: row counts differ"
    assert _multiset(srows, scols) == _multiset(orows, ocols), (
        f"{name}: value multisets differ"
    )


BIT_EXACT = [
    "lm_perplexity_score",
    "ccnet_perplexity_buckets",
    "dsir_importance",
    "bigram_perplexity",
    "centroid_classify",
]


@pytest.mark.parametrize("name", BIT_EXACT)
def test_decimal_accumulated_scores_are_bit_identical(name, spark, duck, sf_dir):
    """The round-5 rounding-divergence fixes (decimal-accumulate round-6
    terms, emit the raw quotient) promise BIT-identical doubles across
    engines — not just 6-decimal-display equality. Compare at full repr
    precision so a reintroduced re-round (or a raw float sum) fails here
    even when it happens to survive the display-rounded multiset check."""
    fn = registry.queries()[name]
    sdf = fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(registry.oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    def strict(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = []
        for r in rows:
            out.append("|".join(
                repr(r[i]) if isinstance(r[i], float) else str(r[i])
                for i in order
            ))
        return sorted(out)

    assert strict(srows, scols) == strict(orows, ocols), (
        f"{name}: full-precision value mismatch — a cross-engine rounding "
        f"divergence was reintroduced"
    )
