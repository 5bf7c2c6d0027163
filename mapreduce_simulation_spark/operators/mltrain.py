"""Distributed ML training as aggregation: full-batch logistic regression
with a hard-sigmoid link, trained by gradient descent where every
iteration is ONE distributed aggregate.

This is the shape MLlib's own LogisticRegression uses (treeAggregate the
gradient, update the driver-held coefficient vector, broadcast back) —
expressed directly on DataFrames: the executors never see the loop, the
driver never sees a row. At 100 TB each iteration shuffles exactly
P × (d+2) partial sums (features+count+correct per partition) — the
weight vector is driver-held like the PQ/IVF codebooks, and per-doc
feature extraction is a stateless projection over the corpus scan.

Cross-engine exactness (the PageRank trick, extended to training): IEEE
float training cannot be hash-checked across engines (sum order varies,
libm exp() differs in the last ulp), so every quantity is an integer in
1e-6 units and every division is an explicit FLOOR division that both
engines compute exactly:

  - Spark:  (a - pmod(a, b)) DIV b   (pmod >= 0 makes the numerator
            divisible, so DIV's truncation equals floor regardless of
            sign);
  - DuckDB: (a - ((a % b + b) % b)) // b   (same construction — never
            rely on the engines' native negative-division semantics);
  - driver: Python's // (exact arbitrary-precision floor).

  - the logistic sigmoid is replaced by the HARD sigmoid
    clamp(z/4 + 1/2, 0, 1) — a real technique (used where exp() is
    expensive or non-portable), and here the property that matters:
    it is exact integer arithmetic, so training is bit-identical in
    Spark, DuckDB (fully unrolled CTE chain, one per iteration), and
    the driver's update rule.

Magnitude audit (longs never overflow): features are O(1e6) in 1e-6
units, weights stay O(1e7) over 5 iterations, so per-doc gradient terms
are <= ~5e13 and corpus sums <= ~2.5e17 at sf0.1 — inside int64 with
headroom; the driver's Python ints are unbounded anyway.

Model quality note: the testdata corpus is synthetic (the same token
distribution for every lang), so the label is a deterministic
length-threshold (n_chars >= LABEL_CHARS) that IS linearly learnable
from the token-count feature — train_acc demonstrates the optimizer
moving, which is the operator's contract; feature engineering is not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from ..staging import memoized_plan, stage_once

SCALE = 1_000_000
LOGREG_ITERS = 5
LOGREG_LR = 2  # integer multiplier on the 1e-6-scaled mean gradient
LABEL_CHARS = 300
STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is")
FEATURES = ("x0", "x1", "x2", "x3")  # bias, tokens/100, stop ratio, len/10
TERM_NAMES = ("bias", "tokens_c", "stop_ratio", "mean_len_10")


def _floordiv_spark(a: str, b: int) -> str:
    return f"(({a}) - pmod(({a}), {b})) DIV {b}"


def _floordiv_duck(a: str, b: int) -> str:
    return f"((({a}) - ((({a}) % ({b}) + ({b})) % ({b}))) // ({b}))"


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc integer features in 1e-6 units + the label. A stateless
    projection over the staged pre-tokenized corpus (the token store
    every curation/scoring pass reads — skips the regex re-tokenize; the
    stopword count and length sum are array folds over the staged
    arrays, bitwise-equal to folding tokens(text) since ws roundtrips
    parquet exactly). Zero-token docs are dropped (no ratios exist),
    mirrored in the oracle, which tokenizes the raw text itself."""
    from .text import staged_tokenized_docs

    docs = staged_tokenized_docs(spark, sf_dir)
    ws = F.col("ws")
    stop_lit = F.array(*[F.lit(s) for s in STOPWORDS])
    base = docs.select(
        F.col("doc_id"),
        F.col("n_chars"),
        F.size(ws).cast("long").alias("ntok"),
        F.size(
            F.filter(ws, lambda w: F.array_contains(stop_lit, w))
        ).cast("long").alias("nstop"),
        F.aggregate(
            ws, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        ).alias("sumlen"),
    ).where(F.col("ntok") > 0)
    # positive-operand divisions: floor == truncate, so plain DIV / //
    # are already identical across engines here
    return base.selectExpr(
        "doc_id",
        f"CAST({SCALE} AS BIGINT) AS x0",
        "ntok * 10000 AS x1",
        f"(({SCALE} * nstop) DIV ntok) AS x2",
        "((100000 * sumlen) DIV ntok) AS x3",
        f"CAST(CASE WHEN n_chars >= {LABEL_CHARS} THEN {SCALE} ELSE 0 END"
        " AS BIGINT) AS y6",
    )


def _iteration_exprs(w: list[int]) -> tuple[str, str]:
    """(z6 SQL, s6 SQL) for the current weights, inlined as literals —
    the broadcast of the driver-held coefficient vector."""
    dot = " + ".join(
        f"CAST({w[j]} AS BIGINT) * {FEATURES[j]}" for j in range(4)
    )
    z6 = _floordiv_spark(dot, SCALE)
    s6 = f"least(greatest(({_floordiv_spark('(' + z6 + ')', 4)}) + 500000, 0), {SCALE})"
    return z6, s6


def _train_logreg_weights(feat: DataFrame) -> list[int]:
    """The GD loop: LOGREG_ITERS full-batch iterations, one distributed
    aggregate each, weights held on the driver (MLlib's treeAggregate
    pattern). Deterministic integer recurrence — same weights on every
    host and in the oracle's unrolled replay."""
    w = [0, 0, 0, 0]
    for _ in range(LOGREG_ITERS):
        _z6, s6 = _iteration_exprs(w)
        row = feat.selectExpr(
            *[
                f"sum((({s6}) - y6) * {FEATURES[j]}) AS g{j}"
                for j in range(4)
            ],
            "count(*) AS n",
        ).collect()[0]
        n = row["n"]
        for j in range(4):
            g6 = (int(row[f"g{j}"]) // n) // SCALE
            w[j] -= LOGREG_LR * g6
    return w


def distributed_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the hard-sigmoid logistic model for LOGREG_ITERS full-batch
    GD iterations; return the coefficient vector (1e-6-scaled and as
    doubles) plus the final training accuracy — 5 rows, bit-identical to
    the oracle's unrolled-CTE replay of the same integer recurrence."""
    feat = _features(spark, sf_dir).persist()
    try:
        w = _train_logreg_weights(feat)
        _z6, s6 = _iteration_exprs(w)
        acc_row = feat.selectExpr(
            f"sum(CASE WHEN (({s6}) >= 500000) = (y6 = {SCALE}) "
            "THEN 1 ELSE 0 END) AS correct",
            "count(*) AS n",
        ).collect()[0]
        acc6 = (SCALE * int(acc_row["correct"])) // int(acc_row["n"])
    finally:
        feat.unpersist()
    rows = [
        (TERM_NAMES[j], w[j], w[j] / SCALE) for j in range(4)
    ] + [("train_acc", acc6, acc6 / SCALE)]
    return spark.createDataFrame(
        rows, "term string, value6 bigint, value double"
    ).orderBy("term")


def _logreg_cte_prefix() -> str:
    """The shared WITH chain: feature CTE + one weights CTE per unrolled
    iteration, ending at w{LOGREG_ITERS} — used by both the training
    oracle (selects the weights + accuracy) and the scoring oracle
    (applies w{LOGREG_ITERS} back onto every feature row)."""
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    parts = [
        rf"""
WITH raw AS (
  SELECT doc_id, n_chars,
         list_filter(str_split_regex(lower(text), '\s+'), w -> w <> '') AS ws
  FROM documents
),
feat AS (
  SELECT doc_id,
         CAST({SCALE} AS BIGINT) AS x0,
         CAST(len(ws) * 10000 AS BIGINT) AS x1,
         CAST(({SCALE} * len(list_filter(ws, w -> w IN ({stop_list}))))
              // len(ws) AS BIGINT) AS x2,
         CAST((100000 * list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                              list_transform(ws, w -> CAST(len(w) AS BIGINT))),
                 (a, b) -> a + b)) // len(ws) AS BIGINT) AS x3,
         CAST(CASE WHEN n_chars >= {LABEL_CHARS} THEN {SCALE} ELSE 0 END
              AS BIGINT) AS y6
  FROM raw WHERE len(ws) > 0
),
w0 AS (SELECT CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b,
              CAST(0 AS BIGINT) AS c, CAST(0 AS BIGINT) AS d)"""
    ]
    for t in range(LOGREG_ITERS):
        dot = "w.a * x0 + w.b * x1 + w.c * x2 + w.d * x3"
        z6 = _floordiv_duck(dot, SCALE)
        s6 = (
            f"least(greatest(({_floordiv_duck('(' + z6 + ')', 4)})"
            f" + 500000, 0), {SCALE})"
        )
        upd = {
            name: (
                f"w.{name} - {LOGREG_LR} * "
                + _floordiv_duck(
                    _floordiv_duck(
                        f"sum(({s6} - y6) * {col})", "count(*)"
                    ),
                    SCALE,
                )
            )
            for name, col in zip("abcd", FEATURES)
        }
        parts.append(
            f""",
w{t + 1} AS (
  SELECT CAST({upd['a']} AS BIGINT) AS a,
         CAST({upd['b']} AS BIGINT) AS b,
         CAST({upd['c']} AS BIGINT) AS c,
         CAST({upd['d']} AS BIGINT) AS d
  FROM feat, w{t} w
  GROUP BY w.a, w.b, w.c, w.d
)"""
        )
    return "".join(parts)


def _final_s6_duck() -> str:
    """s6 under the FINAL weights w{LOGREG_ITERS} (aliased w), DuckDB."""
    dot = "w.a * x0 + w.b * x1 + w.c * x2 + w.d * x3"
    z6 = _floordiv_duck(dot, SCALE)
    return (
        f"least(greatest(({_floordiv_duck('(' + z6 + ')', 4)})"
        f" + 500000, 0), {SCALE})"
    )


def _logreg_oracle_sql() -> str:
    """The same integer recurrence, fully unrolled: one weights CTE per
    iteration, each derived from a cross join of the feature CTE with the
    previous single-row weights CTE."""
    s6 = _final_s6_duck()
    return (
        _logreg_cte_prefix()
        + f""",
acc AS (
  SELECT CAST(({SCALE} * sum(CASE WHEN ({s6} >= 500000) = (y6 = {SCALE})
                             THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
         AS acc6
  FROM feat, w{LOGREG_ITERS} w
  GROUP BY w.a, w.b, w.c, w.d
)
SELECT * FROM (
  SELECT 'bias' AS term, a AS value6, a / {SCALE}.0 AS value
    FROM w{LOGREG_ITERS}
  UNION ALL
  SELECT 'tokens_c', b, b / {SCALE}.0 FROM w{LOGREG_ITERS}
  UNION ALL
  SELECT 'stop_ratio', c, c / {SCALE}.0 FROM w{LOGREG_ITERS}
  UNION ALL
  SELECT 'mean_len_10', d, d / {SCALE}.0 FROM w{LOGREG_ITERS}
  UNION ALL
  SELECT 'train_acc', acc6, acc6 / {SCALE}.0 FROM acc
) ORDER BY term
"""
    )


DISTRIBUTED_LOGREG_SQL = _logreg_oracle_sql()


def _staged_logreg_weights(spark: SparkSession, sf_dir: str) -> list[int]:
    """The trained coefficient vector as a staged per-corpus MODEL
    artifact (like the r9 IVF/PQ codebooks): fit once per corpus —
    LOGREG_ITERS distributed aggregates with driver-held weights — then
    served from a 4-row parquet. Deterministic integer recurrence, so
    the staged vector is identical to a fresh fit on every host."""
    def build() -> DataFrame:
        feat = _features(spark, sf_dir).persist()
        try:
            w = _train_logreg_weights(feat)
        finally:
            feat.unpersist()
        return spark.createDataFrame(
            [(j, w[j]) for j in range(4)], "j int, w bigint"
        ).repartition(1)

    rows = stage_once(
        spark,
        "logreg_w_",
        f"{sf_dir}|i{LOGREG_ITERS}lr{LOGREG_LR}",
        "w",
        build,
    ).collect()
    out = [0, 0, 0, 0]
    for r in rows:
        out[r.j] = int(r.w)
    return out


@memoized_plan
def logreg_score_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train → serve in one query: fit the exact GD model (staged per
    corpus — _staged_logreg_weights; repeat calls serve the stored
    vector, the production shape where the model artifact outlives the
    scoring job), then apply the weights back onto every document as a
    STATELESS scoring projection — the corpus-scale inference pass a
    quality-filter deployment runs nightly. Output per doc: the
    1e-6-scaled hard-sigmoid score, the predicted label, and whether the
    prediction matches the length label — all integer arithmetic, so the
    oracle (the same unrolled weights CTE chain re-applied to the feature
    CTE) hash-matches bit-for-bit.

    Scale: training cost is LOGREG_ITERS corpus aggregates (map-side
    combined, 5-row shuffles), paid once per corpus; scoring is one pass,
    no shuffle, no state — the weights ride into the executors as four
    inlined literals exactly like a broadcast of the coefficient
    vector."""
    w = _staged_logreg_weights(spark, sf_dir)
    _z6, s6 = _iteration_exprs(w)
    return (
        _features(spark, sf_dir)
        .selectExpr(
            "doc_id",
            f"CAST({s6} AS BIGINT) AS score6",
            f"CAST(CASE WHEN ({s6}) >= 500000 THEN 1 ELSE 0 END AS INT)"
            " AS predicted",
            f"CAST(CASE WHEN (({s6}) >= 500000) = (y6 = {SCALE})"
            " THEN 1 ELSE 0 END AS INT) AS correct",
        )
        .orderBy("doc_id")
    )


def _logreg_score_oracle_sql() -> str:
    s6 = _final_s6_duck()
    return (
        _logreg_cte_prefix()
        + f"""
SELECT doc_id,
       CAST({s6} AS BIGINT) AS score6,
       CAST(CASE WHEN {s6} >= 500000 THEN 1 ELSE 0 END AS INTEGER)
         AS predicted,
       CAST(CASE WHEN ({s6} >= 500000) = (y6 = {SCALE})
            THEN 1 ELSE 0 END AS INTEGER) AS correct
FROM feat, w{LOGREG_ITERS} w
ORDER BY doc_id
"""
    )


LOGREG_SCORE_SQL = _logreg_score_oracle_sql()


# ---------------------------------------------------------------------------
# Distributed k-means with exact integer arithmetic — the unsupervised
# member of the exact-iterative family (pagerank = graph, logreg =
# supervised, this = clustering). MLlib's KMeans shape: the E-step
# (assignment) is a distributed projection against broadcast centroids,
# the M-step is one aggregation; the k×dim centroid table is driver-held
# between iterations (MLlib collects it per iteration too).
# ---------------------------------------------------------------------------

KMEANS_K = 4
KMEANS_ITERS = 3


def _quantized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v): embeddings as 1e-6-scaled longs via FLOOR — floor is
    unambiguous in both engines, unlike round() whose half-way tie rule
    differs (HALF_UP vs engine-dependent); float32 → double is exact and
    ×1e6 stays under 2^53, so the double multiply is the identical IEEE
    op on both sides and floor lands on the same integer."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast(
                "long"
            ),
        ).alias("v"),
    )


def distributed_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed Lloyd's: KMEANS_ITERS iterations over the
    quantized corpus, seeded deterministically with the first KMEANS_K
    vectors by vec_id (no RNG → reproducible everywhere). Each iteration
    is ONE fused Arrow pass over the corpus (guide §2.3/§4.2, r18): every
    batch assigns its vectors to the nearest driver-held centroid with an
    exact-integer BLAS argmin (see _kmeans_em_partials) and emits k×dim
    per-batch partial sums; one tiny (cid, dim) aggregation + driver
    floor division closes the M-step. Nothing corpus-sized is ever
    shuffled — the exchanged volume is k×dim rows PER ARROW BATCH,
    versus k rows per VECTOR in the r9-r17 exploded-join shape (at
    100 TB: thousands of rows per task vs 4×|corpus|). Empty clusters
    keep their centroid.

    (History: a zero-shuffle array-expression formulation — zip_with/
    aggregate folds under a transform — was measured 6 s/step at sf0.1:
    higher-order-function lambdas are interpreted, not codegen'd. The
    exploded join shape replaced it in r9 and is in turn replaced by the
    fused Arrow pass, which made the whole query 1.23× faster at 32 cores
    and 1.52× faster at 8 cores on the sf0.1 bench; no per-step time was
    recorded.)

    All arithmetic is exact (see _kmeans_em_partials for the < 2^53
    audit), ties to the smaller cid. Output: (cid, dim, value6, value) —
    k×dim rows, bit-identical to the DuckDB oracle's unrolled-CTE replay
    at every SF."""
    qe = _quantized_embeddings(spark, sf_dir)
    cents = _train_kmeans_centroids(spark, qe)
    dim = len(cents[0])
    rows = [
        (cid, d, cents[cid][d], cents[cid][d] / SCALE)
        for cid in range(KMEANS_K)
        for d in range(dim)
    ]
    return spark.createDataFrame(
        rows, "cid int, dim int, value6 bigint, value double"
    ).orderBy("cid", "dim")


def _centroid_frame(spark: SparkSession, cents: list[list[int]]):
    return spark.createDataFrame(
        [
            (cid, d, cents[cid][d])
            for cid in range(KMEANS_K)
            for d in range(len(cents[0]))
        ],
        "cid int, dim int, cval bigint",
    )


def _kmeans_argmin(V, C):
    """Exact-integer argmin of ||v - c||² over centroid rows, and the
    exact distances, computed through float64 BLAS (numpy). Exactness
    audit: quantized components are |x| ≤ ~2e6, so every product is
    ≤ 4e12 and every partial/total sum over dim ≤ 64 stays ≤ 2.6e14 —
    integers below 2^53 ≈ 9.0e15, where float64 arithmetic is EXACT
    regardless of accumulation order. argmin ties resolve to the first
    (= smallest) cid, matching the oracle's (distance, cid) ordering.
    Returns (cid int64 [n], dist float64-integral [n])."""
    import numpy as np

    # d(v,c) = Σv² + Σc² − 2Σvc; Σv² is constant per vector, so argmin
    # needs only Σc² − 2Σvc (guide §2.3 — the r17-verdict algebra), but
    # the full distance is recovered exactly for callers that declare it.
    cross = V @ C.T  # [n, k], exact (each |Σvc| ≤ 6.4e13)
    half = (C * C).sum(axis=1)[None, :] - 2.0 * cross  # exact
    cid = np.argmin(half, axis=1)  # first min = smallest cid
    n = np.arange(len(V))
    dist = (V * V).sum(axis=1) + half[n, cid]  # exact, integral
    return cid, dist


def _kmeans_em_partials(qe: DataFrame, cents: list[list[int]]) -> DataFrame:
    """One fused E+M pass: per Arrow batch, assign every vector to its
    nearest centroid (exact BLAS argmin — _kmeans_argmin) and emit the
    batch's PARTIAL M-step sums as k×dim (cid, dim, s, n) rows. Integer
    sums are associative, so Σ over batch partials ≡ Σ over vectors —
    bit-identical to the exploded-join M-step this replaces. Per-batch
    |s| ≤ 10⁴ rows · 2e6 < 2^53 (exact in float64 before the int64
    cast); the downstream total runs in Spark's int64 like before."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    C = np.asarray(cents, dtype=np.float64)
    k, dim = C.shape
    dims_tiled = np.tile(np.arange(dim, dtype=np.int32), k)
    cids_rep = np.repeat(np.arange(k, dtype=np.int32), dim)

    def part(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf["v"]), dtype=np.float64)
            cid, _ = _kmeans_argmin(V, C)
            s = np.zeros((k, dim), dtype=np.float64)
            n = np.zeros(k, dtype=np.int64)
            for c in range(k):
                mask = cid == c
                if mask.any():
                    s[c] = V[mask].sum(axis=0)
                    n[c] = int(mask.sum())
            keep = n > 0  # empty clusters emit nothing (keep centroid)
            km = np.repeat(keep, dim)
            yield pd.DataFrame(
                {
                    "cid": cids_rep[km],
                    "dim": dims_tiled[km],
                    "s": s.reshape(-1).astype(np.int64)[km],
                    "n": np.repeat(n, dim)[km],
                }
            )

    return qe.select("v").mapInPandas(
        part, schema="cid int, dim int, s long, n long"
    )


def _assign_with_dist(qe: DataFrame, cents: list[list[int]]) -> DataFrame:
    """(vec_id, cid, d): exact-integer argmin assignment against the
    driver-held centroid list — one Arrow pass, no shuffle (r18; the
    r9-r17 exploded broadcast-join shape shuffled k rows per vector).
    d is the exact squared distance (see _kmeans_argmin's < 2^53 audit),
    bit-identical to the old long-arithmetic aggregation."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    C = np.asarray(cents, dtype=np.float64)

    def assign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf["v"]), dtype=np.float64)
            cid, dist = _kmeans_argmin(V, C)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cid": cid.astype(np.int32),
                    "d": dist.astype(np.int64),
                }
            )

    return qe.select("vec_id", "v").mapInPandas(
        assign, schema="vec_id long, cid int, d long"
    )


def _train_kmeans_centroids(
    spark: SparkSession, qe: DataFrame
) -> list[list[int]]:
    """The Lloyd's loop: one fused E+M Arrow pass per iteration
    (_kmeans_em_partials) + a k×dim-bounded aggregate collect; centroids
    driver-held between iterations — shared by the training query and the
    train→serve assignment query."""
    seed_rows = (
        qe.where(F.col("vec_id") < KMEANS_K).orderBy("vec_id").collect()
    )
    cents: list[list[int]] = [list(r.v) for r in seed_rows]
    for _ in range(KMEANS_ITERS):
        stats = (
            _kmeans_em_partials(qe, cents)
            .groupBy("cid", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        new = [list(c) for c in cents]  # empty clusters keep centroid
        for r in stats:
            new[r.cid][r.dim] = int(r.s) // int(r.n)
        cents = new
    return cents


def _staged_kmeans_centroids(
    spark: SparkSession, sf_dir: str
) -> list[list[int]]:
    """The fitted centroid table as a staged per-corpus MODEL artifact
    (same contract as _staged_logreg_weights): Lloyd's runs once per
    corpus, the k×dim component table is served from parquet after —
    deterministic seed + integer arithmetic make the stored fit identical
    to a fresh one."""

    def build() -> DataFrame:
        qe = _quantized_embeddings(spark, sf_dir)
        cents = _train_kmeans_centroids(spark, qe)
        return _centroid_frame(spark, cents).repartition(1)

    rows = stage_once(
        spark, "kmeans_c_", f"{sf_dir}|k{KMEANS_K}i{KMEANS_ITERS}", "c", build
    ).collect()
    dim = 1 + max(r.dim for r in rows)
    cents = [[0] * dim for _ in range(KMEANS_K)]
    for r in rows:
        cents[r.cid][r.dim] = int(r.cval)
    return cents


@memoized_plan
def kmeans_assign_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train → serve for the unsupervised member: fit the exact Lloyd's
    model (staged per corpus — repeat calls serve the stored centroid
    table), then assign EVERY embedding to its nearest trained centroid
    and emit the exact squared distance — the corpus-labeling pass a
    clustering-based curation step (e.g. cluster-balanced sampling or
    SemDeDup-style pruning) runs after fitting. Output (vec_id, cid,
    dist6): exact integer arithmetic throughout (one Arrow assignment
    pass, _assign_with_dist — no shuffle; see _kmeans_argmin's < 2^53
    audit), ties to the smaller cid, bit-identical to the oracle's
    unrolled replay + final row_number argmin."""
    cents = _staged_kmeans_centroids(spark, sf_dir)
    qe = _quantized_embeddings(spark, sf_dir)
    return (
        _assign_with_dist(qe, cents)
        .select("vec_id", "cid", F.col("d").alias("dist6"))
        .orderBy("vec_id")
    )


_KMEANS_DIST_SQL = """list_reduce(
        list_transform(list_zip(e.v, c.v)::STRUCT(a BIGINT, b BIGINT)[],
                       p -> (p.a - p.b) * (p.a - p.b)),
        (acc, x) -> acc + x)"""


def _kmeans_cte_prefix() -> str:
    """The identical Lloyd's recurrence as unrolled CTEs: assignment by
    row_number over exact integer distances (ties to the smaller cid),
    per-dim centroid components by sign-safe floor division, empty
    clusters inheriting the previous centroid via left join + coalesce.
    Ends at c{KMEANS_ITERS} — shared by the training oracle (selects the
    centroid components) and the assignment oracle (argmin per vector
    against the final centroids)."""
    parts = [
        f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
  FROM embeddings
),
c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, v FROM e
       WHERE vec_id < {KMEANS_K})"""
    ]
    dist = _KMEANS_DIST_SQL
    comp = _floordiv_duck("sum(val)", "count(*)")
    for t in range(KMEANS_ITERS):
        parts.append(
            f""",
a{t} AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist} ASC, c.cid ASC) AS rn
    FROM e, c{t} c
  ) WHERE rn = 1
),
s{t} AS (
  SELECT cid, dim, CAST({comp} AS BIGINT) AS comp
  FROM (SELECT cid, unnest(v) AS val,
               generate_subscripts(v, 1) AS dim FROM a{t})
  GROUP BY cid, dim
),
c{t + 1} AS (
  SELECT p.cid, coalesce(n.v, p.v) AS v
  FROM c{t} p LEFT JOIN (
    SELECT cid, list(comp ORDER BY dim) AS v FROM s{t} GROUP BY cid
  ) n ON n.cid = p.cid
)"""
        )
    return "".join(parts)


def _kmeans_oracle_sql() -> str:
    return (
        _kmeans_cte_prefix()
        + f"""
SELECT cid, CAST(dim - 1 AS INTEGER) AS dim,
       val AS value6, val / {SCALE}.0 AS value
FROM (SELECT cid, unnest(v) AS val,
             generate_subscripts(v, 1) AS dim FROM c{KMEANS_ITERS})
ORDER BY cid, dim
"""
    )


DISTRIBUTED_KMEANS_SQL = _kmeans_oracle_sql()


def _kmeans_assign_oracle_sql() -> str:
    return (
        _kmeans_cte_prefix()
        + f"""
SELECT vec_id, cid, d AS dist6 FROM (
  SELECT e.vec_id, c.cid, {_KMEANS_DIST_SQL} AS d,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {_KMEANS_DIST_SQL} ASC, c.cid ASC)
           AS rn
  FROM e, c{KMEANS_ITERS} c
) WHERE rn = 1
ORDER BY vec_id
"""
    )


KMEANS_ASSIGN_SQL = _kmeans_assign_oracle_sql()


# ---------------------------------------------------------------------------
# Exact distributed split finding — the gradient-boosted-tree primitive
# (LightGBM/XGBoost's histogram method): bin the feature, aggregate one
# (bin → class counts) histogram distributedly, scan the tiny histogram
# for the best split. Here with an integer-exact criterion so the whole
# operator is oracle-checkable bit-for-bit.
# ---------------------------------------------------------------------------

STUMP_BIN_WIDTH = 4  # token-count bin width; |bins| stays feature-bounded


def decision_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single split of the documents corpus on the binned
    token-count feature against the length label (the logreg label):
    choose t minimizing the misclassification count
    err(t) = min(pos_L, neg_L) + min(pos_R, neg_R) over splits
    "bin <= t", ties to the smallest t.

    Misclassification (not Gini) is the criterion BECAUSE it is pure
    integer arithmetic: Gini comparisons across candidate splits divide
    by different (n_L · n_R) products, so exact cross-multiplication has
    no common denominator — while err(t) compares directly. The
    distributed shape is exactly the histogram method of production GBDT
    trainers: ONE corpus-scale aggregation builds the (bin, pos, neg)
    histogram (map-side combine; shuffle = |bins| rows per partition),
    then the candidate scan runs over the collected histogram — LightGBM
    reduces per-feature histograms to a worker and scans serially too;
    |bins| is bounded by the bin width, not the corpus.

    Output: 6 (term, value) rows — the chosen bin, the side counts, and
    the training error — bit-identical to the DuckDB oracle, which
    replays the same scan with window cumulative sums."""
    from .text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    ws = _tokens(F.col("text"))
    hist = (
        docs.select(
            (F.size(ws).cast("long") / STUMP_BIN_WIDTH)
            .cast("long")
            .alias("bin"),
            F.when(F.col("n_chars") >= LABEL_CHARS, 1)
            .otherwise(0)
            .cast("long")
            .alias("y"),
        )
        .where(F.size(ws) > 0)
        .groupBy("bin")
        .agg(
            F.sum("y").alias("pos"),
            (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
        )
        .orderBy("bin")
        .collect()
    )
    tot_pos = sum(int(r.pos) for r in hist)
    tot_neg = sum(int(r.neg) for r in hist)
    best = None  # (err, t, left_n, left_pos)
    cp = cn = 0
    for r in hist[:-1]:  # the max bin is no split (right side empty)
        cp += int(r.pos)
        cn += int(r.neg)
        err = min(cp, cn) + min(tot_pos - cp, tot_neg - cn)
        cand = (err, int(r.bin), cp + cn, cp)
        if best is None or cand < best:
            best = cand
    if best is None:
        # Degenerate corpus: every doc falls in one token-count bin, so
        # there is no candidate split. The oracle's QUALIFY filters every
        # row for the same input, so the matched deliberate output is an
        # EMPTY result with the contract schema (not a TypeError).
        return spark.createDataFrame([], "term string, value bigint")
    err, t, left_n, left_pos = best
    rows = [
        ("split_bin", t),
        ("left_n", left_n),
        ("left_pos", left_pos),
        ("right_n", tot_pos + tot_neg - left_n),
        ("right_pos", tot_pos - left_pos),
        ("train_err", err),
    ]
    return spark.createDataFrame(
        rows, "term string, value bigint"
    ).orderBy("term")


def _stump_oracle_sql() -> str:
    return rf"""
WITH raw AS (
  SELECT n_chars,
         list_filter(str_split_regex(lower(text), '\s+'), w -> w <> '') AS ws
  FROM documents
),
hist AS (
  SELECT CAST(len(ws) // {STUMP_BIN_WIDTH} AS BIGINT) AS bin,
         CAST(sum(CASE WHEN n_chars >= {LABEL_CHARS} THEN 1 ELSE 0 END)
              AS BIGINT) AS pos,
         CAST(sum(CASE WHEN n_chars >= {LABEL_CHARS} THEN 0 ELSE 1 END)
              AS BIGINT) AS neg
  FROM raw WHERE len(ws) > 0
  GROUP BY 1
),
tot AS (
  -- CAST back to BIGINT: DuckDB promotes sum(BIGINT) to HUGEINT, which
  -- fetchdf() renders as float64 (248.0 vs Spark's 248) and breaks the
  -- driver's value hash even when the values are identical.
  SELECT CAST(sum(pos) AS BIGINT) AS tp,
         CAST(sum(neg) AS BIGINT) AS tn FROM hist
),
cand AS (
  SELECT bin,
         CAST(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS cp,
         CAST(sum(neg) OVER (ORDER BY bin) AS BIGINT) AS cn
  FROM hist
  QUALIFY bin < (SELECT max(bin) FROM hist)
),
scored AS (
  SELECT bin, cp, cn,
         CAST(least(cp, cn) + least(t.tp - cp, t.tn - cn) AS BIGINT) AS err
  FROM cand, tot t
),
best AS (
  SELECT * FROM scored
  ORDER BY err ASC, bin ASC
  LIMIT 1
)
SELECT * FROM (
  SELECT 'split_bin' AS term, bin AS value FROM best
  UNION ALL SELECT 'left_n', cp + cn FROM best
  UNION ALL SELECT 'left_pos', cp FROM best
  UNION ALL SELECT 'right_n', (SELECT tp + tn FROM tot) - cp - cn FROM best
  UNION ALL SELECT 'right_pos', (SELECT tp FROM tot) - cp FROM best
  UNION ALL SELECT 'train_err', err FROM best
) ORDER BY term
"""


DECISION_STUMP_SQL = _stump_oracle_sql()


@memoized_plan
def stump_classify_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train → serve for the tree member: find the optimal stump split,
    derive each side's majority label (ties to the positive class —
    mirrored exactly in the oracle's CASE), then label every document by
    which side of the split its token-count bin falls on. Output
    (doc_id, bin, predicted, correct) — all integers; on a degenerate
    single-bin corpus both engines emit ZERO rows (no split exists, so
    there is no model to serve). Scoring is a stateless projection over
    the staged token store; the split threshold and two labels ride in
    as three literals."""
    got = {
        r.term: int(r.value)
        for r in decision_stump_split(spark, sf_dir).collect()
    }
    if not got:
        return spark.createDataFrame(
            [], "doc_id bigint, bin bigint, predicted int, correct int"
        )
    t = got["split_bin"]
    left_label = 1 if 2 * got["left_pos"] >= got["left_n"] else 0
    right_pos = got["right_pos"]
    right_n = got["right_n"]
    right_label = 1 if 2 * right_pos >= right_n else 0
    from .text import staged_tokenized_docs

    docs = staged_tokenized_docs(spark, sf_dir)
    b = (F.size("ws").cast("long") / STUMP_BIN_WIDTH).cast("long")
    y = F.when(F.col("n_chars") >= LABEL_CHARS, 1).otherwise(0)
    pred = F.when(b <= t, F.lit(left_label)).otherwise(
        F.lit(right_label)
    )
    return (
        docs.where(F.size("ws") > 0)
        .select(
            "doc_id",
            b.alias("bin"),
            pred.cast("int").alias("predicted"),
            (pred == y).cast("int").alias("correct"),
        )
        .orderBy("doc_id")
    )


def _stump_classify_oracle_sql() -> str:
    return rf"""
WITH raw AS (
  SELECT doc_id, n_chars,
         list_filter(str_split_regex(lower(text), '\s+'), w -> w <> '') AS ws
  FROM documents
),
hist AS (
  SELECT CAST(len(ws) // {STUMP_BIN_WIDTH} AS BIGINT) AS bin,
         CAST(sum(CASE WHEN n_chars >= {LABEL_CHARS} THEN 1 ELSE 0 END)
              AS BIGINT) AS pos,
         CAST(sum(CASE WHEN n_chars >= {LABEL_CHARS} THEN 0 ELSE 1 END)
              AS BIGINT) AS neg
  FROM raw WHERE len(ws) > 0
  GROUP BY 1
),
tot AS (SELECT sum(pos) AS tp, sum(neg) AS tn FROM hist),
cand AS (
  SELECT bin,
         sum(pos) OVER (ORDER BY bin) AS cp,
         sum(neg) OVER (ORDER BY bin) AS cn
  FROM hist
  QUALIFY bin < (SELECT max(bin) FROM hist)
),
best AS (
  SELECT bin AS t, cp, cn,
         least(cp, cn) + least(tt.tp - cp, tt.tn - cn) AS err,
         CASE WHEN 2 * cp >= cp + cn THEN 1 ELSE 0 END AS left_label,
         CASE WHEN 2 * (tt.tp - cp) >= (tt.tp + tt.tn) - (cp + cn)
              THEN 1 ELSE 0 END AS right_label
  FROM cand, tot tt
  ORDER BY err ASC, bin ASC
  LIMIT 1
)
SELECT doc_id,
       CAST(len(ws) // {STUMP_BIN_WIDTH} AS BIGINT) AS bin,
       CAST(CASE WHEN len(ws) // {STUMP_BIN_WIDTH} <= b.t
            THEN b.left_label ELSE b.right_label END AS INTEGER)
         AS predicted,
       CAST(CASE WHEN (CASE WHEN len(ws) // {STUMP_BIN_WIDTH} <= b.t
                       THEN b.left_label ELSE b.right_label END)
                 = (CASE WHEN n_chars >= {LABEL_CHARS} THEN 1 ELSE 0 END)
            THEN 1 ELSE 0 END AS INTEGER) AS correct
FROM raw, best b
WHERE len(ws) > 0
ORDER BY doc_id
"""


STUMP_CLASSIFY_SQL = _stump_classify_oracle_sql()


# ---------------------------------------------------------------------------
# Exact closed-form OLS — the fourth training shape beside GD (logreg),
# EM (k-means), and histogram scan (stump): sufficient statistics are ONE
# distributed aggregation (n, Σx, Σy, Σx², Σxy — map-side combinable
# int64 sums), the normal-equation solve is exact rational arithmetic on
# the driver (Python unbounded ints) and HUGEINT in the oracle.
# ---------------------------------------------------------------------------


def _ols_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, x, y): token count vs n_chars over the staged token store
    (ws roundtrips parquet bitwise, so x equals size(tokens(text)))."""
    from .text import staged_tokenized_docs

    return (
        staged_tokenized_docs(spark, sf_dir)
        .select(
            "doc_id",
            F.size("ws").cast("long").alias("x"),
            F.col("n_chars").cast("long").alias("y"),
        )
        .where(F.col("x") > 0)
    )


def _ols_coeffs(
    spark: SparkSession, sf_dir: str
) -> tuple[int, int, int]:
    """(slope6, intercept6, n): ONE sufficient-statistics aggregation,
    exact rational normal-equation solve on the driver (unbounded Python
    ints) — shared by the training query and the residual-scoring serve."""
    row = _ols_xy(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).collect()[0]
    n, sx, sy, sxx, sxy = (
        int(row.n), int(row.sx), int(row.sy), int(row.sxx), int(row.sxy)
    )
    det = n * sxx - sx * sx
    slope6 = (SCALE * (n * sxy - sx * sy)) // det
    intercept6 = (SCALE * (sy * sxx - sx * sxy)) // det
    return slope6, intercept6, n


def exact_ols_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple linear regression of n_chars on the token count, solved
    exactly: slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²), intercept =
    (Σy·Σxx − Σx·Σxy) / det, emitted as 1e-6-scaled FLOOR values (and
    doubles). The five sufficient statistics are raw-integer sums — no
    scaling needed corpus-side, so the aggregate stays a plain long sum
    with map-side combine; the numerators × 1e6 exceed int64, which is
    exactly why the solve lives on the driver (unbounded Python ints) and
    in HUGEINT on the oracle side. At extreme corpus sizes the int64
    sufficient statistics themselves would saturate first — the upgrade
    path is decimal(38,0) sums, same shape.

    n_chars is near-affine in the token count on this corpus (chars ≈
    tokens·(mean_len+1)), so the fit is also a sanity signal: slope ≈
    mean token length + 1."""
    slope6, intercept6, n = _ols_coeffs(spark, sf_dir)
    rows = [
        ("slope", slope6, slope6 / SCALE),
        ("intercept", intercept6, intercept6 / SCALE),
        ("n", n, float(n)),
    ]
    return spark.createDataFrame(
        rows, "term string, value6 bigint, value double"
    ).orderBy("term")


def _ols_oracle_sql() -> str:
    # sign-safe floor division in HUGEINT (numerator × 1e6 exceeds int64).
    # NB: // not / — DuckDB's / on integers is DOUBLE division, and a
    # ~1e23 hugeint numerator is not exactly representable as a double;
    # // on the exactly-divisible numerator stays in integer arithmetic.
    fd = (
        lambda a, b: f"((({a}) - ((({a}) % ({b}) + ({b})) % ({b}))) // ({b}))"
    )
    num_s = f"CAST({SCALE} AS HUGEINT) * (n * sxy - sx * sy)"
    num_i = f"CAST({SCALE} AS HUGEINT) * (sy * sxx - sx * sxy)"
    det = "(n * sxx - sx * sx)"
    return rf"""
WITH raw AS (
  SELECT CAST(len(list_filter(str_split_regex(lower(text), '\s+'),
                              w -> w <> '')) AS HUGEINT) AS x,
         CAST(n_chars AS HUGEINT) AS y
  FROM documents
),
s AS (
  SELECT count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM raw WHERE x > 0
),
sol AS (
  SELECT CAST({fd(num_s, det)} AS BIGINT) AS slope6,
         CAST({fd(num_i, det)} AS BIGINT) AS intercept6,
         CAST(n AS BIGINT) AS nn
  FROM s
)
SELECT * FROM (
  SELECT 'slope' AS term, slope6 AS value6, slope6 / {SCALE}.0 AS value
    FROM sol
  UNION ALL SELECT 'intercept', intercept6, intercept6 / {SCALE}.0 FROM sol
  UNION ALL SELECT 'n', nn, CAST(nn AS DOUBLE) FROM sol
) ORDER BY term
"""


EXACT_OLS_SQL = _ols_oracle_sql()


@memoized_plan
def ols_residuals_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train → serve for the closed-form member: solve the normal
    equations exactly (one sufficient-statistics aggregate), then emit
    every document's 1e-6-scaled prediction and residual — the
    outlier-surfacing pass a length-model deployment runs to find docs
    whose char count deviates from the corpus line (boilerplate, tables,
    non-prose). yhat6 = slope6·x + intercept6 and
    resid6 = 1e6·y − yhat6 are plain int64 arithmetic (|slope6·x| ≲
    1e11), so the oracle — the same HUGEINT solve crossed back onto the
    (doc_id, x, y) rows — hash-matches bit-for-bit. Scoring is a
    stateless projection; the two coefficients ride in as literals."""
    slope6, intercept6, _n = _ols_coeffs(spark, sf_dir)
    yhat = F.lit(slope6) * F.col("x") + F.lit(intercept6)
    return (
        _ols_xy(spark, sf_dir)
        .select(
            "doc_id",
            yhat.cast("long").alias("yhat6"),
            (F.lit(SCALE) * F.col("y") - yhat).cast("long").alias(
                "resid6"
            ),
        )
        .orderBy("doc_id")
    )


def _ols_residuals_oracle_sql() -> str:
    fd = (
        lambda a, b: f"((({a}) - ((({a}) % ({b}) + ({b})) % ({b}))) // ({b}))"
    )
    num_s = f"CAST({SCALE} AS HUGEINT) * (n * sxy - sx * sy)"
    num_i = f"CAST({SCALE} AS HUGEINT) * (sy * sxx - sx * sxy)"
    det = "(n * sxx - sx * sx)"
    return rf"""
WITH raw AS (
  SELECT doc_id,
         CAST(len(list_filter(str_split_regex(lower(text), '\s+'),
                              w -> w <> '')) AS HUGEINT) AS x,
         CAST(n_chars AS HUGEINT) AS y
  FROM documents
),
s AS (
  SELECT count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM raw WHERE x > 0
),
sol AS (
  SELECT {fd(num_s, det)} AS slope6, {fd(num_i, det)} AS intercept6
  FROM s
)
SELECT doc_id,
       CAST(slope6 * x + intercept6 AS BIGINT) AS yhat6,
       CAST({SCALE} * y - (slope6 * x + intercept6) AS BIGINT) AS resid6
FROM raw, sol
WHERE x > 0
ORDER BY doc_id
"""


OLS_RESIDUALS_SQL = _ols_residuals_oracle_sql()


def _stream_features(doc_stream: DataFrame) -> DataFrame:
    """The logreg feature projection computed directly from raw text —
    the streaming-side twin of _features (a stream can't read the staged
    token store; it tokenizes arriving rows in place). Same integer
    arithmetic, same zero-token drop."""
    from .text import tokens as _tokens

    ws = _tokens(F.col("text"))
    base = doc_stream.select(
        F.col("doc_id"),
        F.col("n_chars"),
        F.size(ws).cast("long").alias("ntok"),
        F.size(
            F.filter(ws, lambda w: F.array_contains(
                F.array(*[F.lit(s) for s in STOPWORDS]), w
            ))
        ).cast("long").alias("nstop"),
        F.aggregate(
            ws, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        ).alias("sumlen"),
    ).where(F.col("ntok") > 0)
    return base.selectExpr(
        "doc_id",
        f"CAST({SCALE} AS BIGINT) AS x0",
        "ntok * 10000 AS x1",
        f"(({SCALE} * nstop) DIV ntok) AS x2",
        "((100000 * sumlen) DIV ntok) AS x3",
        f"CAST(CASE WHEN n_chars >= {LABEL_CHARS} THEN {SCALE} ELSE 0 END"
        " AS BIGINT) AS y6",
    )


def streaming_logreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ML inference: score arriving documents against the
    STAGED logistic model — the online face of logreg_score_corpus (a
    quality gate scoring documents at ingestion with a model fit
    offline). The model artifact is fetched once on the driver
    (_staged_logreg_weights — fit if absent) and rides into every
    micro-batch as four inlined literals; per batch the score is a
    stateless projection (tokenize → integer features → hard sigmoid),
    so the drained result over the corpus equals the batch scoring pass
    and shares its bit-exact oracle. Four range-split input files
    exercise multi-batch scoring."""
    from ..streaming.events import run_to_memory, stage_stream_source
    from ..tables import load_table

    w = _staged_logreg_weights(spark, sf_dir)
    _z6, s6 = _iteration_exprs(w)
    docs = load_table(spark, sf_dir, "documents")
    stage = stage_stream_source(spark, sf_dir, "documents", "doc_id")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    scored = _stream_features(stream).selectExpr(
        "doc_id",
        f"CAST({s6} AS BIGINT) AS score6",
        f"CAST(CASE WHEN ({s6}) >= 500000 THEN 1 ELSE 0 END AS INT)"
        " AS predicted",
        f"CAST(CASE WHEN (({s6}) >= 500000) = (y6 = {SCALE})"
        " THEN 1 ELSE 0 END AS INT) AS correct",
    )
    return run_to_memory(scored, "stream_logreg_score", "append").orderBy(
        "doc_id"
    )
