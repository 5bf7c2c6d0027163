"""Round-9 regressions: staged ANN index builders (deterministic
driver-side codebook training, staging identity).

The builders' end-to-end recall contracts live in test_operators
(test_pq_topk_recall_floor, test_ivf_trained_recall_floor); these tests
pin the pieces those contracts stand on, so a regression points at the
broken piece instead of a recall drop.
"""

from __future__ import annotations

import numpy as np
import pytest

from conftest import SF_DIR


# ---------------------------------------------------------------------------
# Codebook training: deterministic, capped, exactly-k
# ---------------------------------------------------------------------------


def test_int_train_sample_deterministic_capped_quantized(spark):
    from mapreduce_simulation_spark.operators import similarity as S

    a = S._int_train_sample(spark, SF_DIR)
    b = S._int_train_sample(spark, SF_DIR)
    # Bitwise-identical across calls (TakeOrdered by the shared affine
    # hash + vec_id — no dependence on partition order), capped, int64
    # (the 1e-6 FLOOR quantization both engines reproduce exactly).
    assert a.shape == b.shape
    assert (a == b).all()
    assert a.shape[0] <= S.TRAIN_CAP
    assert a.shape[1] == S.EMBED_DIM
    assert a.dtype == np.int64
    assert np.abs(a).max() < S.CB_SCALE * 2  # embeddings are unit-scale


def test_int_lloyd_deterministic_exact_k_integer():
    from mapreduce_simulation_spark.operators.similarity import _int_lloyd

    rng = np.random.default_rng(7)
    X = (rng.normal(size=(500, 8)) * 1_000_000).astype(np.int64)
    c1 = _int_lloyd(X, 16)
    c2 = _int_lloyd(X, 16)
    assert c1.shape == (16, 8)
    assert c1.dtype == np.int64
    assert (c1 == c2).all()
    # The fit must actually move off the seeds (first-k init): otherwise
    # the "trained" codebook silently degrades to the fixed-subset one.
    assert not (c1 == X[:16]).all()


def test_int_lloyd_exact_k_on_degenerate_sample():
    from mapreduce_simulation_spark.operators.similarity import _int_lloyd

    # Fewer distinct points than k: seeds repeat, some clusters stay
    # empty — the trainer must still return exactly k rows (the PQ ADC
    # LUT indexes the codebook positionally), and must raise loudly when
    # the sample itself is shorter than k.
    X = np.repeat(np.eye(4, dtype=np.int64) * 1_000_000, 3, axis=0)
    c = _int_lloyd(X, 8)
    assert c.shape == (8, 4)
    with pytest.raises(RuntimeError):
        _int_lloyd(X[:5], 8)


def test_int_lloyd_matches_pure_python_reference():
    """The numpy fit must agree with a dependency-free Python replay of
    the SAME recurrence (first-k seeds, first-min argmin, floor-div
    means) — the recurrence the DuckDB oracle CTEs implement."""
    from mapreduce_simulation_spark.operators.similarity import (
        CB_ITERS,
        _int_lloyd,
    )

    rng = np.random.default_rng(11)
    X = (rng.normal(size=(60, 4)) * 1_000_000).astype(np.int64)
    k = 5
    want = [list(map(int, r)) for r in X[:k]]
    rows = [list(map(int, r)) for r in X]
    for _ in range(CB_ITERS):
        assign = []
        for r in rows:
            d = [
                sum((a - b) * (a - b) for a, b in zip(r, c)) for c in want
            ]
            assign.append(d.index(min(d)))  # first min = smaller cid
        new = [list(c) for c in want]
        for j in range(k):
            pts = [r for r, a in zip(rows, assign) if a == j]
            if pts:
                new[j] = [
                    sum(col) // len(pts) for col in zip(*pts)
                ]
        want = new
    got = _int_lloyd(X, k)
    assert [list(map(int, r)) for r in got] == want


# ---------------------------------------------------------------------------
# Staging identity: a staged index must serve the same result it computed
# ---------------------------------------------------------------------------


def test_pq_and_trained_ivf_staging_identity(spark):
    from mapreduce_simulation_spark.operators import similarity as S

    for fn in (S.pq_topk, S.ivf_trained_topk):
        first = [tuple(r) for r in fn(spark, SF_DIR).collect()]
        again = [tuple(r) for r in fn(spark, SF_DIR).collect()]
        assert first == again, f"{fn.__name__}: staged serve differs"
        assert len(first) == S.N_QUERIES * S.TOP_K


def test_narrow_minhash_bands_match_batch_signatures(spark):
    """The streaming gate's per-row band computation must be numerically
    identical to the batch shingle → signature pipeline (same char-fold
    token hash, shingle combine, permutations, distinct semantics) — a
    divergence would make the gate's verdicts disagree with the batch
    dedup family over the same corpus."""
    import pyspark.sql.functions as F

    from mapreduce_simulation_spark.functions import hashing as H
    from mapreduce_simulation_spark.operators import dedup
    from mapreduce_simulation_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    narrow = {
        (r.doc_id, r.band): r.key
        for r in dedup.narrow_minhash_bands(docs).collect()
    }
    sig = dedup.minhash_signatures(docs)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.concat_ws(
                    ":",
                    F.col(f"m{b * H.ROWS_PER_BAND}"),
                    F.col(f"m{b * H.ROWS_PER_BAND + 1}"),
                ).alias("key"),
            )
            for b in range(H.N_BANDS)
        ]
    )
    batch = {
        (r.doc_id, r.band): r.key
        for r in sig.select("doc_id", F.explode(bands).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
        .collect()
    }
    assert narrow == batch and len(narrow) > 0


def test_arrow_banding_is_bitwise_twin_of_expression_banding(spark):
    """narrow_minhash_bands_arrow (numpy mapInPandas, the gate's hot path)
    must reproduce the Catalyst-expression twin bit-for-bit over the full
    corpus — same token fold, shingle combine, permutation minima, and
    signature-value band keys. Any drift here silently changes which
    near-dups the ingestion gate flags."""
    from mapreduce_simulation_spark.operators import dedup
    from mapreduce_simulation_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    expr = {tuple(r) for r in dedup.narrow_minhash_bands(docs).collect()}
    arrow = {
        tuple(r) for r in dedup.narrow_minhash_bands_arrow(docs).collect()
    }
    assert arrow == expr and len(arrow) > 0
    # Non-ASCII whitespace boundary: Java \s+ (the expression twin) does
    # NOT split on NBSP/EN-QUAD/IDEOGRAPHIC SPACE while Python str.split()
    # does — the arrow twin must follow the expression twin (r11 advice).
    tricky = spark.createDataFrame(
        [
            (90001, "foo bar baz qux quux"),
            (90002, "a\u2000b\u3000c one two three four"),  # EN-QUAD/IDEO
            (90003, "plain ascii words only here"),
        ],
        "doc_id long, text string",
    )
    expr_t = {tuple(r) for r in dedup.narrow_minhash_bands(tricky).collect()}
    arrow_t = {
        tuple(r) for r in dedup.narrow_minhash_bands_arrow(tricky).collect()
    }
    assert arrow_t == expr_t and len(arrow_t) > 0
    # stateless for streaming legality, like the expression twin
    plan = (
        dedup.narrow_minhash_bands_arrow(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_narrow_minhash_bands_plan_has_no_exchange(spark):
    """The gate's banding must stay a stateless projection — an Exchange
    in its plan would make it illegal inside a streaming micro-batch
    (and void the 'no shuffle before the stateful step' scale claim)."""
    from mapreduce_simulation_spark.operators import dedup
    from mapreduce_simulation_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = (
        dedup.narrow_minhash_bands(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Generate" in plan  # the band explode is the only wide-ish node


# ---------------------------------------------------------------------------
# Distributed logreg training (operators/mltrain.py)
# ---------------------------------------------------------------------------


def test_logreg_matches_pure_python_replay(spark):
    """Strongest exactness check: collect the integer features once and
    replay the full GD recurrence in pure Python ints (arbitrary
    precision, floor division) — the distributed aggregates must land on
    the exact same weights and accuracy. A divergence means a division or
    overflow bug in the SQL arithmetic, independent of the DuckDB oracle."""
    from mapreduce_simulation_spark.operators import mltrain as M

    feats = [
        (r.x0, r.x1, r.x2, r.x3, r.y6)
        for r in M._features(spark, SF_DIR).collect()
    ]
    n = len(feats)
    w = [0, 0, 0, 0]
    for _ in range(M.LOGREG_ITERS):
        gs = [0, 0, 0, 0]
        for x0, x1, x2, x3, y6 in feats:
            z6 = (w[0] * x0 + w[1] * x1 + w[2] * x2 + w[3] * x3) // M.SCALE
            s6 = min(max(z6 // 4 + 500000, 0), M.SCALE)
            for j, xj in enumerate((x0, x1, x2, x3)):
                gs[j] += (s6 - y6) * xj
        for j in range(4):
            w[j] -= M.LOGREG_LR * ((gs[j] // n) // M.SCALE)
    correct = 0
    for x0, x1, x2, x3, y6 in feats:
        z6 = (w[0] * x0 + w[1] * x1 + w[2] * x2 + w[3] * x3) // M.SCALE
        s6 = min(max(z6 // 4 + 500000, 0), M.SCALE)
        correct += (s6 >= 500000) == (y6 == M.SCALE)
    acc6 = (M.SCALE * correct) // n

    got = {
        r.term: r.value6
        for r in M.distributed_logreg_train(spark, SF_DIR).collect()
    }
    assert got == {
        "bias": w[0],
        "tokens_c": w[1],
        "stop_ratio": w[2],
        "mean_len_10": w[3],
        "train_acc": acc6,
    }
    # the optimizer must beat the majority class on the learnable label
    pos = sum(1 for f in feats if f[4] == M.SCALE)
    majority = max(pos, n - pos) / n
    assert acc6 / M.SCALE > majority + 0.05


def test_floordiv_sql_is_sign_safe(spark, duck):
    """The shared FLOOR-division construction must floor (not truncate)
    for negative dividends, identically on both engines and matching
    Python's //."""
    from mapreduce_simulation_spark.operators import mltrain as M

    cases = [(-7, 4), (7, 4), (-8, 4), (-1, 1000000), (999999, 4)]
    for a, b in cases:
        s = spark.sql(
            f"SELECT {M._floordiv_spark(str(a), b)} AS q"
        ).collect()[0].q
        d = duck.execute(
            f"SELECT {M._floordiv_duck(str(a), b)} AS q"
        ).fetchone()[0]
        assert s == d == a // b, (a, b, s, d, a // b)


def test_kmeans_matches_pure_python_replay(spark):
    """Same discipline as the logreg replay: quantize the embeddings once,
    run exact Lloyd's in pure Python ints, and require the distributed
    E/M steps to land on identical centroids."""
    from mapreduce_simulation_spark.operators import mltrain as M

    vecs = {
        r.vec_id: list(r.v)
        for r in M._quantized_embeddings(spark, SF_DIR).collect()
    }
    cents = [list(vecs[i]) for i in range(M.KMEANS_K)]
    dim = len(cents[0])
    for _ in range(M.KMEANS_ITERS):
        sums = [[0] * dim for _ in range(M.KMEANS_K)]
        counts = [0] * M.KMEANS_K
        for v in vecs.values():
            best = min(
                range(M.KMEANS_K),
                key=lambda c: (
                    sum((a - b) * (a - b) for a, b in zip(v, cents[c])),
                    c,
                ),
            )
            counts[best] += 1
            for d in range(dim):
                sums[best][d] += v[d]
        for c in range(M.KMEANS_K):
            if counts[c]:
                cents[c] = [sums[c][d] // counts[c] for d in range(dim)]
    got = {
        (r.cid, r.dim): r.value6
        for r in M.distributed_kmeans_train(spark, SF_DIR).collect()
    }
    expect = {
        (c, d): cents[c][d]
        for c in range(M.KMEANS_K)
        for d in range(dim)
    }
    assert got == expect
    # the centroids must have moved off the seed vectors (training ran)
    assert any(cents[c] != list(vecs[c]) for c in range(M.KMEANS_K))


def test_stump_split_is_optimal_by_exhaustive_scan(spark):
    """Replay split finding exhaustively in Python over the collected
    per-document (bin, y) pairs: the distributed histogram scan must pick
    the globally minimal misclassification split with smallest-bin ties,
    and the reported side counts must be internally consistent."""
    import pyspark.sql.functions as F

    from mapreduce_simulation_spark.operators import mltrain as M
    from mapreduce_simulation_spark.operators.text import tokens
    from mapreduce_simulation_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    ws = tokens(F.col("text"))
    pairs = [
        (r.b, r.y)
        for r in docs.select(
            (F.size(ws).cast("long") / M.STUMP_BIN_WIDTH)
            .cast("long")
            .alias("b"),
            F.when(F.col("n_chars") >= M.LABEL_CHARS, 1)
            .otherwise(0)
            .alias("y"),
        )
        .where(F.size(ws) > 0)
        .collect()
    ]
    bins = sorted({b for b, _ in pairs})
    tp = sum(y for _, y in pairs)
    tn = len(pairs) - tp
    best = None
    for t in bins[:-1]:
        cp = sum(y for b, y in pairs if b <= t)
        cn = sum(1 - y for b, y in pairs if b <= t)
        err = min(cp, cn) + min(tp - cp, tn - cn)
        cand = (err, t)
        if best is None or cand < best:
            best = cand
    got = {
        r.term: r.value
        for r in M.decision_stump_split(spark, SF_DIR).collect()
    }
    assert (got["train_err"], got["split_bin"]) == best
    assert got["left_n"] + got["right_n"] == len(pairs)
    assert got["left_pos"] + got["right_pos"] == tp


def test_stump_split_single_bin_corpus_returns_empty(spark, tmp_path):
    """Degenerate corpus — every document lands in one token-count bin, so
    no candidate split exists. The DuckDB oracle's QUALIFY filters every
    row for this input; the Spark side must return the matched EMPTY
    result with the contract schema, not unpack best=None (TypeError)."""
    from mapreduce_simulation_spark.operators import mltrain as M

    sf = str(tmp_path / "sf_onebin")
    # 3 docs, all with exactly STUMP_BIN_WIDTH-1 tokens → same bin.
    txt = " ".join(["tok"] * (M.STUMP_BIN_WIDTH - 1))
    spark.createDataFrame(
        [(i, txt, "en", "web", len(txt)) for i in range(3)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    ).write.mode("overwrite").parquet(sf + "/documents.parquet")
    out = M.decision_stump_split(spark, sf)
    assert out.schema.simpleString() == "struct<term:string,value:bigint>"
    assert out.count() == 0
    # the serve twin has no model to apply — zero rows, matching schema
    served = M.stump_classify_corpus(spark, sf)
    assert served.count() == 0
    assert served.schema.simpleString() == (
        "struct<doc_id:bigint,bin:bigint,predicted:int,correct:int>"
    )


def test_logreg_scoring_consistent_with_training_accuracy(spark):
    """Train → serve coherence: the per-doc correctness flags emitted by
    logreg_score_corpus must aggregate to EXACTLY the train_acc the
    training query reports (same weights, same hard sigmoid, same floor
    arithmetic) — a drift in either path breaks the tie."""
    from mapreduce_simulation_spark.operators import mltrain as M

    train = {
        r.term: r.value6
        for r in M.distributed_logreg_train(spark, SF_DIR).collect()
    }
    scored = M.logreg_score_corpus(spark, SF_DIR)
    n = scored.count()
    n_correct = scored.where("correct = 1").count()
    assert (M.SCALE * n_correct) // n == train["train_acc"]


def test_kmeans_assignment_matches_trained_centroid_argmin(spark):
    """Every kmeans_assign_corpus distance must be the exact squared
    distance to the REPORTED trained centroid, and no other centroid may
    be strictly closer (ties to smaller cid)."""
    from mapreduce_simulation_spark.operators import mltrain as M
    from mapreduce_simulation_spark.tables import load_table

    import pyspark.sql.functions as F

    cents = {}
    for r in M.distributed_kmeans_train(spark, SF_DIR).collect():
        cents.setdefault(r.cid, {})[r.dim] = r.value6
    k = len(cents)
    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast(
                "long"
            ),
        ).alias("v"),
    )
    vecs = {r.vec_id: list(r.v) for r in emb.collect()}
    got = {
        r.vec_id: (r.cid, r.dist6)
        for r in M.kmeans_assign_corpus(spark, SF_DIR).collect()
    }
    assert set(got) == set(vecs)
    for vid, (cid, d6) in got.items():
        dists = [
            sum(
                (vecs[vid][j] - cents[c][j]) ** 2
                for j in range(len(vecs[vid]))
            )
            for c in range(k)
        ]
        assert d6 == dists[cid]
        best = min(range(k), key=lambda c: (dists[c], c))
        assert cid == best


def test_exact_ols_matches_fraction_solve(spark):
    """Exact-rational independent check: solve the normal equations with
    Python Fractions over the collected (x, y) pairs — the distributed
    sufficient-statistics solve must land on the identical floor-scaled
    coefficients, and the slope must be positive (chars grow with
    tokens)."""
    from fractions import Fraction

    import pyspark.sql.functions as F

    from mapreduce_simulation_spark.operators import mltrain as M
    from mapreduce_simulation_spark.operators.text import tokens
    from mapreduce_simulation_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    pairs = [
        (r.x, r.y)
        for r in docs.select(
            F.size(tokens(F.col("text"))).cast("long").alias("x"),
            F.col("n_chars").cast("long").alias("y"),
        )
        .where(F.col("x") > 0)
        .collect()
    ]
    n = len(pairs)
    sx = sum(x for x, _ in pairs)
    sy = sum(y for _, y in pairs)
    sxx = sum(x * x for x, _ in pairs)
    sxy = sum(x * y for x, y in pairs)
    slope = Fraction(n * sxy - sx * sy, n * sxx - sx * sx)
    intercept = Fraction(sy * sxx - sx * sxy, n * sxx - sx * sx)
    got = {
        r.term: r.value6
        for r in M.exact_ols_train(spark, SF_DIR).collect()
    }
    import math

    assert got["slope"] == math.floor(slope * M.SCALE)
    assert got["intercept"] == math.floor(intercept * M.SCALE)
    assert got["n"] == n
    assert got["slope"] > 0


def test_floordiv_sql_bulk_randomized(spark, duck):
    """Bulk randomized check of the shared floor-division construction —
    it underpins every exact-training recurrence, so verify it against
    Python // over a wide seeded sample of magnitudes and signs in ONE
    evaluation per engine (per-case roundtrips would be too slow)."""
    import random

    rng = random.Random(20260815)
    cases = [
        (rng.randint(-10**15, 10**15), rng.choice([1, 2, 3, 4, 7, 10**6]))
        for _ in range(300)
    ]
    from mapreduce_simulation_spark.operators import mltrain as M

    values = ", ".join(f"({a}, {b}, {i})" for i, (a, b) in enumerate(cases))
    srows = spark.sql(
        f"SELECT i, {M._floordiv_spark('CAST(a AS BIGINT)', 'b')} AS q "
        f"FROM VALUES {values} AS t(a, b, i)"
    ).collect()
    got_s = {r.i: r.q for r in srows}
    drows = duck.execute(
        f"SELECT i, {M._floordiv_duck('CAST(a AS BIGINT)', 'b')} AS q "
        f"FROM (VALUES {values}) t(a, b, i)"
    ).fetchall()
    got_d = {i: q for i, q in drows}
    for i, (a, b) in enumerate(cases):
        assert got_s[i] == got_d[i] == a // b, (a, b)


def test_registry_tier_census():
    """Every registry entry must carry an EXACT value-hash oracle — the
    no-oracle set closed in round 11 (deterministic HLL, strict-fold
    re-scored BLAS preselect, two-pass exact heavy hitters, integer-exact
    trained codebooks with unrolled-CTE oracle replay). Adding a query
    without an exact oracle should be a deliberate, reviewed decision
    that updates this census."""
    from mapreduce_simulation_spark.plans.registry import _REGISTRY

    no_oracle = {k for k, v in _REGISTRY.items() if v[1] is None}
    assert no_oracle == set()
    assert len(_REGISTRY) >= 197


def test_ann_recall_audit_semantics(spark, sf_dir):
    """The audit table must be internally consistent (n_hits ≤ k, recall
    the exact division, both variants × every query present) and must
    show the trained codebook at-or-above the flat index on the fixture —
    the measured fact the query exists to surface."""
    from mapreduce_simulation_spark.operators import similarity as S

    rows = S.ann_recall_audit(spark, sf_dir).collect()
    variants = {"ivf_flat", "ivf_trained", "lsh", "lsh_wide", "pq"}
    assert {r.index_variant for r in rows} == variants
    for v in variants:
        assert sum(1 for r in rows if r.index_variant == v) == S.N_QUERIES
    for r in rows:
        assert 0 <= r.n_hits <= r.k == S.TOP_K
        assert r.recall_at_k == r.n_hits / r.k
    mean = {
        v: sum(r.recall_at_k for r in rows if r.index_variant == v)
        / S.N_QUERIES
        for v in variants
    }
    assert mean["ivf_trained"] >= mean["ivf_flat"]
