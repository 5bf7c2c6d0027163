"""Similarity search over the embeddings table (SURVEY.md §7 step 5).

Embeddings are ``array<float>`` columns; all math is done in double after an
exact float→double widening, with strict left-fold accumulation (F.aggregate)
so the DuckDB oracle (list_reduce — also a left fold) reproduces every bit.
Final scores are rounded to 6 decimals on both sides.

Four operators:
  brute_force_topk   exact k-NN for a query set — broadcast the queries,
                     one scan over the corpus, per-partition top-k via
                     window rank. The correctness baseline.
  near_dup_pairs     all pairs with cosine ≥ τ. Exhaustive self-join —
                     the small-scale twin of the LSH variant.
  lsh_topk           random-hyperplane LSH bucketing (sign bits of fixed
                     deterministic hyperplanes) → candidate join → exact
                     re-score. The 100 TB path: shuffle is |corpus| × 1
                     bucket key instead of |corpus| × |queries| pairs.
                     Approximate (LSH misses) → no SQL oracle; rows-only.
  ivf_topk           inverted-file index: a deterministic codebook of
                     centroids partitions the corpus into cells; queries
                     probe their nprobe nearest cells and re-score exactly.
                     Fully deterministic procedure → exact DuckDB oracle
                     (the oracle replicates the IVF algorithm, so the
                     correctness check covers cell assignment, probing,
                     AND re-scoring — not just "some rows came back").

Scale notes: brute-force topk at 100 TB is a single broadcast-join scan —
viable when |queries| is small (the common batch-inference shape). For
corpus×corpus similarity, LSH bucketing or IVF is mandatory; `lsh_topk`
and `ivf_topk` show both plan shapes. `ivf_topk` uses a fixed
deterministic corpus subset as its codebook so the oracle can reproduce
it; `ivf_trained_topk` is the production shape (sampled seeded k-means
fit via Spark ML, rows-only check, recall floor asserted in tests) — the
search plan (broadcast codebook → map-side cell assignment with
partial-agg argmax → cell-key equi-join) is identical for both.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..staging import memo, memoized_plan
from ..tables import load_table

N_QUERIES = 10  # query set = vec_id < 10
TOP_K = 5
COSINE_THRESHOLD = 0.4
N_HYPERPLANES = 8
N_LSH_TABLES = 8  # OR-amplified LSH: 8 independent 8-plane tables
# Re-planing lever (r17): the WIDE config doubles the sign bits per table
# (bucket space 256 -> 65536), the action lsh_index_replane takes when the
# census's expected probe-candidate count crosses REPLANE_THRESHOLD.
N_HYPERPLANES_WIDE = 16
REPLANE_THRESHOLD = 4.0  # expected candidates per (table, probe)
#                   (r15: 4 → recall@5 0.48; r16: 8 → measured 0.76 at
#                   the same ~0.9 s warm serve — see the frontier table
#                   below N_CENTROIDS)
EMBED_DIM = 64
# IVF: codebook = the 16 vectors right after the query range (deterministic,
# oracle-reproducible stand-in for a k-means fit); each query probes its 4
# nearest cells.
N_CENTROIDS = 16
# Measured recall-vs-cost frontier at sf0.1 (ann_recall_audit protocol,
# recall@5 vs brute force; warm serve wall was FLAT ~0.6-1.5 s across
# every setting below — at this corpus the serve cost is stage-floor
# bound, so recall is nearly free and the knob choice is about the
# PROBED FRACTION, which is what scales):
#   flat nprobe    4→0.48   6→0.66   8→0.80   10→0.88
#   trained nprobe 8→0.82   10→0.96
#   lsh tables     4→0.48   6→0.64   8→0.76
#   pq refine      16→0.48  32→0.68  64→0.84
# Operating points (r16): flat 6/16 (recall 0.66 at a 3/8 probe
# fraction), trained 10/16 (0.96 — the trained codebook's unequal-mass
# cells reward extra probes most), documented below per variant.
N_PROBE = 6
# The TRAINED codebook probes more cells: k-means cells are unequal-mass
# (unlike the fixed corpus-subset codebook), so a query's true neighbors
# spread across more cells at this k. Measured per-query floor at nprobe
# 4/16: two sf0.01 queries had ZERO true hits (caught by the per-group
# recall gate); nprobe 10/16 gives measured 0.96 pooled recall@5 at
# sf0.1. At production scale k ≫ 16 and the probed fraction shrinks with
# it; the ratio here is an artifact of the tiny codebook.
N_PROBE_TRAINED = 10


# DuckDB-side strict left-fold dot product (bit-identical to `_dot` below);
# format with the two list-typed SQL expressions to multiply.
_DOT_SQL_TMPL = (
    "list_reduce(list_prepend(0.0, list_transform("
    "list_zip({a}, {b})::STRUCT(a DOUBLE, b DOUBLE)[], "
    "pr -> pr.a * pr.b)), (acc, x) -> acc + x)"
)


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Strict left-fold dot product in double — matches DuckDB list_reduce."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def _corpus_with_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = _as_double("embedding")
    return emb.select("vec_id", v.alias("v"), _norm(v).alias("nrm"))


def _note_corpus_source(spark: SparkSession, sf_dir: str) -> None:
    """Called inside a stage-once build over a corpus frame its caller
    passed in: loads the embeddings table that frame reads, so the build
    records it as the artifact's source."""
    load_table(spark, sf_dir, "embeddings")


def brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each query vector (vec_id < 10).

    Physical shape: broadcast(queries) ⋈ corpus — a map-side nested loop,
    no shuffle except the final per-query top-k (rank window on 10 keys).
    """

    # plan memo (r17): ~0.2 s of py4j per build, re-paid by every audit /
    # rerank caller; deps auto-recorded (see staging.py).
    return memo(
        spark,
        ("brute_force_topk", sf_dir),
        lambda: _brute_force_topk_plan(_corpus_with_norm(spark, sf_dir)),
    )


def _brute_force_topk_plan(corpus: DataFrame) -> DataFrame:
    """Build the broadcast-queries exact top-k plan (memoized above)."""
    queries = corpus.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cos = F.round(
        _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 6
    )
    scored = (
        corpus.join(broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


BRUTE_FORCE_TOPK_SQL = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                          (a, b) -> a + b)) AS nrm
  FROM e
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_reduce(
                 list_prepend(0.0, list_transform(
                   list_zip(q.v, c.v)::STRUCT(a DOUBLE, b DOUBLE)[],
                   p -> p.a * p.b)),
                 (acc, x) -> acc + x) / (q.nrm * c.nrm), 6) AS cosine
  FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS rk
  FROM scored)
WHERE rk <= {TOP_K}
"""


@memoized_plan
def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All embedding pairs with cosine ≥ 0.4 — exhaustive self-join
    (the exact small-scale twin of lsh_topk's bucketed search).

    Deliberately quadratic: this is the exact baseline the bucketed
    variant is validated against; at scale you run
    embedding_near_dup_bucketed. Its ~45 s at sf0.1 is the zip_with+
    aggregate fold over 12.5M pairs, and two rewrites were measured and
    REJECTED (r8): a nondeterministic-column barrier to stop the filter
    re-computing the projection's cosine (44.7 → 45.6 s — Catalyst wasn't
    duplicating the fold) and a 64-term unrolled element_at sum in strict
    left order (45 → 78 s — per-element null/bounds checks cost more than
    the fold). The fold is the fastest exact JVM form; the 10-100×
    path is Arrow/BLAS, which reassociates and belongs to the
    bounded-error twin (similarity_topk_pandas), not this oracle-exact
    baseline."""
    corpus = _corpus_with_norm(spark, sf_dir)
    a = corpus.alias("a")
    b = corpus.alias("b")
    cos = F.round(
        _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 6
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= COSINE_THRESHOLD)
        .orderBy("vec_a", "vec_b")
    )


NEAR_DUP_PAIRS_SQL = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                          (a, b) -> a + b)) AS nrm
  FROM e
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_reduce(
               list_prepend(0.0, list_transform(
                 list_zip(a.v, b.v)::STRUCT(a DOUBLE, b DOUBLE)[],
                 p -> p.a * p.b)),
               (acc, x) -> acc + x) / (a.nrm * b.nrm), 6) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_reduce(
        list_prepend(0.0, list_transform(
          list_zip(a.v, b.v)::STRUCT(a DOUBLE, b DOUBLE)[],
          p -> p.a * p.b)),
        (acc, x) -> acc + x) / (a.nrm * b.nrm), 6) >= {COSINE_THRESHOLD}
ORDER BY vec_a, vec_b
"""


def _hyperplanes(
    n: int = N_HYPERPLANES, seed: int = 1234567
) -> list[list[float]]:
    """Fixed deterministic pseudo-random hyperplanes (no RNG: linear
    congruential sequence on frozen constants, centered to [-0.5, 0.5)).
    Every value is a dyadic rational (state / 2^31 - 0.5) so an oracle
    regenerating the sequence in SQL reproduces each double exactly."""
    planes = []
    state = seed
    for _ in range(n):
        row = []
        for _ in range(EMBED_DIM):
            state = (state * 1103515245 + 12345) % (1 << 31)
            row.append(state / float(1 << 31) - 0.5)
        planes.append(row)
    return planes


# Banded hyperplane LSH for the pair operator: b bands of r sign bits each.
# A pair becomes a candidate if ANY band's r-bit signature matches — the
# same band/row amplification as MinHash-LSH on the text side. At this
# corpus size r=4 keeps buckets populated; at 100 TB r grows with
# log2(corpus / target_bucket_size) so per-band buckets stay bounded, and
# the shuffle is |corpus| × b band keys (ids only — vectors are fetched by
# equi-join for the candidate set), never corpus².
PAIR_BANDS = 16
PAIR_BAND_BITS = 4
PAIR_PLANES = PAIR_BANDS * PAIR_BAND_BITS


def _band_signatures(corpus: DataFrame) -> DataFrame:
    """(vec_id, band, sig): one r-bit signature per band per vector —
    sign bits of the fixed hyperplanes, packed little-endian within the
    band. Pure JVM expressions (fold dot products), zero shuffle."""
    planes = _hyperplanes(PAIR_PLANES)
    bits = [
        F.when(
            _dot(F.col("v"), F.array(*[F.lit(x) for x in plane])) > 0,
            F.lit(1 << (j % PAIR_BAND_BITS)),
        ).otherwise(0)
        for j, plane in enumerate(planes)
    ]
    band_sigs = [
        sum(bits[b * PAIR_BAND_BITS + r] for r in range(PAIR_BAND_BITS))
        for b in range(PAIR_BANDS)
    ]
    return corpus.select(
        "vec_id", F.posexplode(F.array(*band_sigs)).alias("band", "sig")
    )


def _staged_band_signatures(
    spark: SparkSession, sf_dir: str, corpus: DataFrame
) -> DataFrame:
    """The LSH signature index (vec_id, band, sig), COMPUTED ONCE per
    (corpus, plane set) and served from parquet — the signature stage is
    the hyperplane-projection pass (PAIR_PLANES fold dot products per
    vector) and was re-run by BOTH sides of the candidate self-join.
    Integer columns — bitwise roundtrip; written at cluster parallelism
    (the tokdocs lesson)."""

    def build() -> DataFrame:
        _note_corpus_source(spark, sf_dir)
        return _band_signatures(corpus).repartition(
            spark.sparkContext.defaultParallelism
        )

    return stage_once(
        spark, "lsh_sigs_", f"{sf_dir}|pair_planes_v1", "sigs", build
    )


@memoized_plan
def near_dup_pairs_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All embedding pairs with cosine ≥ 0.4 via banded hyperplane LSH —
    the 100 TB sibling of the exhaustive `near_dup_pairs` twin.

    Plan shape:
      1. signature stage: 64 sign bits per vector, packed into 16 4-bit
         band signatures, exploded to (vec_id, band, sig) rows — ids only;
      2. candidate stage: self-equi-join on (band, sig), vec_a < vec_b,
         DISTINCT — each pair survives once however many bands agree;
      3. verify stage: fetch the two vectors by equi-join on vec_id and
         re-score with the exact fold — precision is exact (every output
         pair passes the true threshold); recall < 1 (pairs agreeing on no
         band are missed), the standard LSH trade.

    Unlike the exhaustive twin the corpus² pair set never materializes:
    shuffle is |corpus|×16 id-sized rows plus candidate-sized joins.
    Deterministic procedure → the oracle replicates it (LCG plane
    regeneration by recursive CTE, banding, and re-score) bit-for-bit.
    """
    corpus = _corpus_with_norm(spark, sf_dir)
    sigs = _staged_band_signatures(spark, sf_dir, corpus)
    cand = (
        sigs.alias("a")
        .join(
            sigs.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    ca = corpus.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    cb = corpus.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.round(
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        cand.join(ca, "vec_a")
        .join(cb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .where(F.col("cosine") >= COSINE_THRESHOLD)
        .orderBy("vec_a", "vec_b")
    )


# Exact oracle for the bucketed pair operator: regenerates the LCG
# hyperplane sequence with a recursive CTE (every value is state/2^31-0.5,
# a dyadic rational — bit-identical to the Python generator), replays the
# banding and candidate join, and re-scores with the same strict left fold.
NEAR_DUP_PAIRS_BUCKETED_SQL = f"""
WITH RECURSIVE lcg(i, state) AS (
  SELECT 1, (CAST(1234567 AS BIGINT) * 1103515245 + 12345) % 2147483648
  UNION ALL
  SELECT i + 1, (state * 1103515245 + 12345) % 2147483648
  FROM lcg WHERE i < {PAIR_PLANES * EMBED_DIM}
),
planes AS (
  SELECT (i - 1) // {EMBED_DIM} AS p,
         list(state / 2147483648.0 - 0.5 ORDER BY i) AS plane
  FROM lcg GROUP BY 1
),
e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                          (a, b) -> a + b)) AS nrm
  FROM e
),
bits AS (
  SELECT n.vec_id, pl.p // {PAIR_BAND_BITS} AS band,
         CASE WHEN {_DOT_SQL_TMPL.format(a='n.v', b='pl.plane')} > 0
              THEN 1 << (pl.p % {PAIR_BAND_BITS}) ELSE 0 END AS bit
  FROM n CROSS JOIN planes pl
),
sigs AS (
  SELECT vec_id, band, sum(bit) AS sig FROM bits GROUP BY vec_id, band
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
),
scored AS (
  SELECT c.vec_a, c.vec_b,
         round({_DOT_SQL_TMPL.format(a='na.v', b='nb.v')}
               / (na.nrm * nb.nrm), 6) AS cosine
  FROM cand c
  JOIN n na ON na.vec_id = c.vec_a
  JOIN n nb ON nb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, cosine FROM scored
WHERE cosine >= {COSINE_THRESHOLD}
ORDER BY vec_a, vec_b
"""


def _multitable_signatures(
    corpus: DataFrame, n_planes: int = N_HYPERPLANES
) -> DataFrame:
    """(vec_id, tbl, bucket): the OR-amplification index — one n_planes-bit
    sign-bucket per vector per LSH table, ids only. N_LSH_TABLES×n_planes
    strict-fold plane dot products per vector, expressed as a broadcast
    cross join against the 64-row planes table + ONE fold expression +
    a (vec_id, tbl) bit-sum — the oracle's own shape. (The r16 first
    cut inlined 64 separate HOF fold expressions instead; plan BUILD
    alone cost multiple seconds of driver py4j per call, which the
    delta path of lsh_index_upsert_stats pays on every run. Bucket
    values are identical: same strict fold, same dyadic-rational plane
    literals, and the bit-sum adds distinct powers of two, so order
    cannot matter.) Staged once via ``_staged_multitable_signatures``
    so serve calls never replay it. ``n_planes`` widens the per-table
    signature (the lsh_index_replane lever): the plane chain is the same
    LCG sequence, just consumed n_planes per table."""
    planes = _hyperplanes(n_planes * N_LSH_TABLES)
    planes_df = corpus.sparkSession.createDataFrame(
        [(p, planes[p]) for p in range(len(planes))],
        "p int, plane array<double>",
    )
    return (
        corpus.select("vec_id", "v")
        .crossJoin(broadcast(planes_df))
        .select(
            "vec_id",
            F.expr(f"p DIV {n_planes}").alias("tbl"),
            F.when(
                _dot(F.col("v"), F.col("plane")) > 0,
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), p % {n_planes})"
                ),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("bit"),
        )
        .groupBy("vec_id", "tbl")
        .agg(F.sum("bit").cast("long").alias("bucket"))
    )


def _staged_multitable_signatures(
    spark: SparkSession,
    sf_dir: str,
    corpus: DataFrame,
    part: str = "full",
    n_planes: int = N_HYPERPLANES,
) -> DataFrame:
    """The multi-table LSH index (vec_id, tbl, bucket), COMPUTED ONCE per
    (corpus, plane set) and served from parquet — the
    ``_staged_band_signatures`` pattern applied to the serve path.
    Before r16 the 32 higher-order-function plane dots ran IN-PLAN on
    every serve call (HOF lambdas sit outside whole-stage codegen; ~4 s
    warm at sf0.1 — the r15 verdict's one `weak`); now a serve is a
    staged integer-parquet scan + probe join. Written at cluster
    parallelism; ids/longs only — bitwise roundtrip."""

    def build() -> DataFrame:
        _note_corpus_source(spark, sf_dir)
        return _multitable_signatures(corpus, n_planes=n_planes).repartition(
            spark.sparkContext.defaultParallelism
        )

    return stage_once(
        spark,
        "lsh_mt_sigs_",
        f"{sf_dir}|mt{N_LSH_TABLES}x{n_planes}_{part}_v1",
        "sigs",
        build,
    )


def lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: OR-amplified multi-table hyperplane LSH with
    multi-probe. N_LSH_TABLES independent 8-plane sign signatures bucket
    the corpus (one LCG plane chain, split per table); each query probes,
    IN EVERY TABLE, its own bucket plus the 8 Hamming-1 neighbors (one
    sign bit flipped), and candidates from all tables are deduped before
    the exact re-score. Both amplifications are the standard public
    recipe (OR over tables, Lv et al.'s multi-probe within a table): for
    a neighbor at angle θ with per-plane agreement p = 1-θ/π, one exact
    bucket succeeds with p^8 (measured end-to-end recall@5 at sf0.1 was
    0.04 — surfaced by ann_recall_audit), Hamming-1 probing lifts a
    table to P1 = p^8 + 8(1-p)p^7 (measured 0.18), and N_LSH_TABLES
    OR'd tables reach 1-(1-P1)^T (measured by the audit: 4 tables
    0.48, 8 tables 0.76 at the same warm serve cost).

    Serve path (r16): the index — (vec_id, tbl, bucket), ids/longs only —
    is STAGED once per (corpus, plane set) via
    ``_staged_multitable_signatures`` and a serve call is a parquet scan
    + probe join + candidate-sized vector fetch; the 32 HOF plane dots
    are never replayed in-plan (the r15 verdict's `weak`). Shuffle
    volume: the staged index is |corpus|·N_LSH_TABLES id rows (written
    once); per serve, candidates shuffle as id pairs only and the query
    vectors ride a 10-row broadcast. "Approximate" describes recall vs
    brute force; the PROCEDURE is fully deterministic (dyadic-rational
    planes, strict-fold sign bits, exact candidate re-score, pair-level
    dedup before ranking), so LSH_TOPK_SQL reproduces the output exactly
    and this query carries a full oracle.
    """
    return _lsh_serve(spark, sf_dir)


def _lsh_serve(
    spark: SparkSession,
    sf_dir: str,
    query_ids: list[int] | None = None,
    n_planes: int = N_HYPERPLANES,
) -> DataFrame:
    """The staged-index LSH probe plan, parameterized on the query set:
    ``query_ids=None`` serves the full vec_id < N_QUERIES block (batch
    lsh_topk); a list serves exactly those ids (the per-micro-batch body
    of streaming_lsh_serve — per-query top-k is independent across
    queries, so a union over any partition of the ids equals the batch
    result bit-for-bit). ``n_planes`` selects the staged index config
    (8 = production narrow; N_HYPERPLANES_WIDE = the re-planed index
    lsh_index_replane builds) — the probe set is the exact bucket plus
    one flip per sign bit, so it widens with the signature.

    The full-block plan is built once per (session, sf_dir, n_planes,
    staged-index generation) and memoized (staging.memo, plan
    CONSTRUCTION measured 0.9-1.1 s of py4j per call at sf0.1 — paid per
    micro-batch by streaming_lsh_serve before r17); an id list is served
    by filtering the prepared plan. Catalyst pushes the query_id IN-list
    through the probe joins to both probe-side scans (PushedFilters
    carries In(vec_id, ...) — see
    plans/r17/streaming_lsh_serve_after.txt), so per-batch work stays
    bounded by the arriving ids like the bespoke per-id plan it replaces,
    without re-paying plan construction per micro-batch. A staged-index
    rebuild mid-drain moves the artifact signature and the memo re-plans
    (pinned by test_streaming_lsh_serve_survives_index_restaging). Ids
    outside the query block are never produced by the query stream (it
    is staged AS the block), so block∧ids ≡ ids here."""

    def build() -> DataFrame:
        corpus = _corpus_with_norm(spark, sf_dir)
        sigs = _staged_multitable_signatures(
            spark, sf_dir, corpus, n_planes=n_planes
        )
        return _lsh_serve_plan(corpus, sigs, n_planes)

    prepared = memo(spark, ("lsh_serve", sf_dir, n_planes), build)
    if query_ids is None:
        return prepared
    # Narrowed contract (ADVICE r17): the prepared plan only covers the
    # vec_id < N_QUERIES block, so an out-of-block id would be silently
    # filtered to zero rows where the old per-id plan served any vec_id.
    # No current caller can pass one (the query stream is staged AS the
    # block) — fail loudly if a future caller does.
    ids = [int(i) for i in query_ids]
    out_of_block = [i for i in ids if not 0 <= i < N_QUERIES]
    if out_of_block:
        raise ValueError(
            f"_lsh_serve(query_ids=...) only serves the prepared "
            f"vec_id < {N_QUERIES} block; out-of-block ids {out_of_block}"
        )
    return prepared.where(F.col("query_id").isin(ids))


def _lsh_serve_plan(
    corpus: DataFrame, sigs: DataFrame, n_planes: int
) -> DataFrame:
    """Build the full-block probe → pair-dedup → exact re-score → top-k
    plan (the body _lsh_serve memoizes)."""
    is_query = F.col("vec_id") < N_QUERIES
    probes = (
        sigs.where(is_query)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("tbl").alias("qtbl"),
            F.col("bucket").alias("qbucket"),
        )
        # multi-probe per table: the exact bucket (flip 0) + one probe
        # per flipped sign bit
        .select(
            "query_id",
            "qtbl",
            "qbucket",
            F.explode(
                F.array(
                    F.lit(0).cast("long"),
                    *[
                        F.lit(1 << j).cast("long")
                        for j in range(n_planes)
                    ],
                )
            ).alias("flip"),
        )
        .withColumn("pbucket", F.col("qbucket").bitwiseXOR(F.col("flip")))
    )
    cand = (
        sigs.join(
            broadcast(probes),
            (F.col("tbl") == F.col("qtbl"))
            & (F.col("bucket") == F.col("pbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        # a pair can collide in several tables/probes; dedup on ids
        # BEFORE fetching vectors so the verify join is candidate-sized.
        # One exchange for dedup + rank (r17): partitioning by query_id
        # alone satisfies the (query_id, neighbor_id) dedup clustering AND
        # the rank window's, so the dedup aggregate and the window both
        # ride this single exchange instead of one each (plan 10 → 8
        # Exchange nodes; serve 0.9 → 0.5 s warm at sf0.1, identical
        # rows). Worst-case skew is unchanged — the window already
        # clustered by query_id, and candidates per query are
        # occupancy-bounded (lsh_index_stats prices them).
        .repartition("query_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qvecs = corpus.where(is_query).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    nvecs = corpus.select(F.col("vec_id").alias("neighbor_id"), "v", "nrm")
    cos = F.round(
        _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 6
    )
    scored = (
        cand.join(nvecs, "neighbor_id")
        .join(broadcast(qvecs), "query_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


# Exact oracle for lsh_topk: the procedure is fully deterministic (LCG
# hyperplanes are dyadic rationals, sign bits from the same strict-fold
# dot product, exact re-score on candidates), so "approximate" only
# describes recall vs brute force — the OUTPUT is exactly reproducible.
# Regenerates the planes with a recursive CTE and replays bucket
# assignment, the same-bucket probe, and the top-k rank. Parameterized on
# planes-per-table (r17) so the re-planed WIDE config shares the template.


def _lsh_topk_sql(n_planes: int = N_HYPERPLANES) -> str:
    flips = ", ".join(str(f) for f in [0] + [1 << j for j in range(n_planes)])
    return f"""
WITH RECURSIVE lcg(i, state) AS (
  SELECT 1, (CAST(1234567 AS BIGINT) * 1103515245 + 12345) % 2147483648
  UNION ALL
  SELECT i + 1, (state * 1103515245 + 12345) % 2147483648
  FROM lcg WHERE i < {n_planes * N_LSH_TABLES * EMBED_DIM}
),
planes AS (
  SELECT (i - 1) // {EMBED_DIM} AS p,
         list(state / 2147483648.0 - 0.5 ORDER BY i) AS plane
  FROM lcg GROUP BY 1
),
e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                          (a, b) -> a + b)) AS nrm
  FROM e
),
sig AS (
  SELECT n.vec_id, pl.p // {n_planes} AS tbl,
         CAST(sum(CASE WHEN {_DOT_SQL_TMPL.format(a='n.v', b='pl.plane')} > 0
                       THEN 1 << (pl.p % {n_planes}) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM n CROSS JOIN planes pl
  GROUP BY n.vec_id, pl.p // {n_planes}
),
b AS (
  SELECT n.vec_id, n.v, n.nrm, s.tbl, s.bucket
  FROM n JOIN sig s USING (vec_id)
),
probes AS (
  SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn, q.tbl,
         xor(q.bucket, f.flip) AS pbucket
  FROM b q CROSS JOIN (SELECT unnest([{flips}]) AS flip) f
  WHERE q.vec_id < {N_QUERIES}
),
scored AS (
  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
         round({_DOT_SQL_TMPL.format(a='p.qv', b='c.v')}
               / (p.qn * c.nrm), 6) AS cosine
  FROM probes p JOIN b c
    ON c.tbl = p.tbl AND c.bucket = p.pbucket AND c.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS rk
  FROM scored)
WHERE rk <= {TOP_K}
"""


LSH_TOPK_SQL = _lsh_topk_sql()
LSH_TOPK_WIDE_SQL = _lsh_topk_sql(N_HYPERPLANES_WIDE)

def streaming_lsh_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online ANN serving: query vectors ARRIVE AS A STREAM and every
    micro-batch is answered from the STAGED multi-table LSH index — the
    production serving shape the staged tier exists for (index built
    offline and corpus-resident; queries online). The query block is
    staged as a 5-file parquet stream (maxFilesPerTrigger=1 → 5
    micro-batches of ~2 queries); each batch runs the same probe →
    pair-dedup → exact re-score → top-k plan as batch lsh_topk
    (_lsh_serve parameterized on the batch's ids) and appends its
    verdicts to a parquet sink, foreachBatch like the ingestion dedup
    gates. Per-query top-k is independent across queries, so the drained
    union over batches equals batch lsh_topk BIT-FOR-BIT → shares
    LSH_TOPK_SQL as an exact value-hash oracle.

    Scale: per batch, the stream side contributes only the arriving
    query ids (collected — bounded by the micro-batch, ≤ N_QUERIES
    here); the index and corpus are static staged artifacts read at
    cluster parallelism, and the per-batch work is the same
    candidate-bounded serve join the ×100 probe priced (PLANS.md r16:
    warm serve 2.3× wall at 100× corpus).

    Reference parity: no vector or streaming surface in the reference
    engine (HaolingPu/MapReduce-Simulation) — LLM-pipeline extension
    tier, the online twin of similarity_lsh_topk.
    """
    import os

    from ..staging import staging_dir

    corpus = _corpus_with_norm(spark, sf_dir)
    # build (or reuse) the staged index BEFORE the drain so per-batch
    # cost is the serve join, not a racing first-touch index build
    _staged_multitable_signatures(spark, sf_dir, corpus)

    def queries() -> DataFrame:
        return load_table(spark, sf_dir, "embeddings").where(
            F.col("vec_id") < N_QUERIES
        )

    stage = stage_once_dir(
        "lsh_query_stream_",
        f"sf={sf_dir}",
        "queries",
        lambda tmp: queries()
        .repartitionByRange(5, "vec_id")
        .write.mode("overwrite")
        .parquet(tmp),
    )
    out_root = staging_dir("lsh_serve_")

    def _serve_batch(batch: DataFrame, batch_id: int) -> None:
        ids = [r.vec_id for r in batch.select("vec_id").collect()]
        if not ids:
            return
        # serve through the OUTER session, not batch.sparkSession: the
        # micro-batch clone would populate the per-session DataFrame cache
        # (staging.cached_read) keyed on a session that
        # is never individually stopped — one leaked cache dict per
        # streaming run (ADVICE r16; the documented r15 leak shape).
        # Per-batch plan cost is one .where() on the memoized prepared
        # plan (_SERVE_PLAN_CACHE) — the 0.9-1.1 s/batch py4j plan
        # rebuild this loop used to pay is gone (r17).
        _lsh_serve(spark, sf_dir, query_ids=ids).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_root, f"b{batch_id}"))

    q = (
        spark.readStream.schema(queries().schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(_serve_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(out_root)
        .orderBy("query_id", "rk")
    )


@memoized_plan
def lsh_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational skew audit of the staged multi-table LSH index — per
    table: vector count, distinct-bucket count, the largest bucket, the
    COLLISION MASS (sum of squared bucket occupancies), and the expected
    candidate count for a uniformly-drawn probe (collision_mass /
    n_vectors — the mean occupancy of the bucket a random VECTOR sits
    in, i.e. the size-biased expectation).

    This is the statistic that prices the serve join at scale: a probe
    into bucket b scans its occupancy c_b, and a query distributed like
    the corpus lands in b with probability c_b/N — so the expected scan
    is Σc²/N per (table, probe). At a fixed 8-bit bucket space the mass
    grows quadratically in N (occupancies grow linearly), which is
    exactly why the serve law is occupancy-bound, not corpus-bound —
    production deployments watch this number and re-plane (more bits /
    more tables) when it drifts, the same way the recall audits watch
    recall. One id-sized exchange keyed on (tbl, bucket) over the staged
    index scan; output is N_LSH_TABLES rows.

    Reference parity: no vector surface in the reference engine
    (HaolingPu/MapReduce-Simulation) — LLM-pipeline extension tier, ops
    sibling of similarity_lsh_topk. Integer-exact aggregation + one IEEE
    division per row → exact value-hash oracle.
    """
    corpus = _corpus_with_norm(spark, sf_dir)
    sigs = _staged_multitable_signatures(spark, sf_dir, corpus)
    return _index_census(sigs)


def _index_census(sigs: DataFrame) -> DataFrame:
    """The per-table occupancy census over a (vec_id, tbl, bucket) index:
    two partial-agg exchanges, both bounded by the 8-bit bucket space."""
    occ = sigs.groupBy("tbl", "bucket").agg(F.count(F.lit(1)).alias("c"))
    return _census_from_occ(occ)


def _census_from_occ(occ: DataFrame) -> DataFrame:
    """Census tail over a (tbl, bucket, c) occupancy table — split out
    (r17) so the streaming monitor can feed MERGED occupancies (summed
    per-batch deltas) through the identical aggregation."""
    return (
        occ.groupBy("tbl")
        .agg(
            F.sum("c").cast("long").alias("n_vectors"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.max("c").cast("long").alias("max_bucket"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias(
                "collision_mass"
            ),
        )
        .withColumn(
            "expected_probe_candidates",
            F.col("collision_mass").cast("double")
            / F.col("n_vectors").cast("double"),
        )
        .orderBy("tbl")
    )


@memoized_plan
def lsh_index_upsert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE without rebuild: every row of the staged LSH
    index is a pure function of its OWN vector (sign bits of fixed
    planes), so a corpus delta is ingested by APPENDING its signature
    rows — the existing index is never touched, re-read, or re-shuffled.
    This query proves the claim end-to-end: it stages the index for the
    BASE corpus only (vec_id % 5 != 4 — a deterministic 80/20 split),
    computes signatures for the DELTA (vec_id % 5 == 4) in one narrow
    pass, unions the two, and emits the same census as lsh_index_stats.
    The result must equal the FULL-index census bit-for-bit, so it
    hash-checks against LSH_INDEX_STATS_SQL VERBATIM — the oracle is the
    full rebuild; the query is the delta ingest.

    At 100 TB this is the difference between a daily delta job (scan the
    delta, append id-sized rows) and a periodic full-index rebuild —
    the same append-only argument that makes `incremental_dedup`'s
    staged band store maintainable. The delta side shuffles nothing
    (signature computation is row-local; the union is a narrow plan);
    only the census's bucket-space-bounded aggregations exchange.

    Reference parity: no vector surface in the reference engine
    (HaolingPu/MapReduce-Simulation) — LLM-pipeline extension tier,
    maintenance sibling of lsh_index_stats.
    """
    corpus = _corpus_with_norm(spark, sf_dir)
    base = corpus.where(F.col("vec_id") % 5 != 4)
    delta = corpus.where(F.col("vec_id") % 5 == 4)
    base_sigs = _staged_multitable_signatures(
        spark, sf_dir, base, part="base45"
    )
    return _index_census(
        base_sigs.unionByName(_multitable_signatures(delta))
    )


# Exact oracle: regenerates the planes and bucket assignment with the
# same recursive CTE as LSH_TOPK_SQL, then replays the two integer
# aggregations and the single IEEE division.
LSH_INDEX_STATS_SQL = f"""
WITH RECURSIVE lcg(i, state) AS (
  SELECT 1, (CAST(1234567 AS BIGINT) * 1103515245 + 12345) % 2147483648
  UNION ALL
  SELECT i + 1, (state * 1103515245 + 12345) % 2147483648
  FROM lcg WHERE i < {N_HYPERPLANES * N_LSH_TABLES * EMBED_DIM}
),
planes AS (
  SELECT (i - 1) // {EMBED_DIM} AS p,
         list(state / 2147483648.0 - 0.5 ORDER BY i) AS plane
  FROM lcg GROUP BY 1
),
e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
sig AS (
  SELECT e.vec_id, pl.p // {N_HYPERPLANES} AS tbl,
         CAST(sum(CASE WHEN {_DOT_SQL_TMPL.format(a='e.v', b='pl.plane')} > 0
                       THEN 1 << (pl.p % {N_HYPERPLANES}) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM e CROSS JOIN planes pl
  GROUP BY e.vec_id, pl.p // {N_HYPERPLANES}
),
occ AS (
  SELECT tbl, bucket, count(*) AS c FROM sig GROUP BY tbl, bucket
)
SELECT CAST(tbl AS INTEGER) AS tbl,
       CAST(sum(c) AS BIGINT) AS n_vectors,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(c) AS BIGINT) AS max_bucket,
       CAST(sum(c * c) AS BIGINT) AS collision_mass,
       CAST(sum(c * c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
         AS expected_probe_candidates
FROM occ GROUP BY tbl ORDER BY tbl
"""


def streaming_lsh_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous index MONITORING — the online face of lsh_index_stats,
    completing the index-ops set: sensor (lsh_index_stats), actuator
    (lsh_index_replane), maintenance (lsh_index_upsert_stats), serve
    (streaming_lsh_serve), and now the monitor that keeps the sensor's
    number current as the corpus streams in. Corpus vectors ARRIVE AS A
    STREAM (5 range-split files, maxFilesPerTrigger=1); each micro-batch
    computes its own signature rows (row-local plane dots — nothing
    shuffles) and appends a (tbl, bucket, c) OCCUPANCY DELTA under
    deltas/batch=<id>/ (overwrite — a replayed batch rewrites identical
    bytes, the shard-ingest idempotence recipe). The census is then
    rolled up from the delta log alone: occupancy merge is sum
    (associative + commutative), so merged deltas equal the one-shot
    occupancy table EXACTLY and the drained census is bit-identical to
    batch lsh_index_stats — it shares LSH_INDEX_STATS_SQL verbatim as an
    exact value-hash oracle.

    Scale: the per-batch delta is bounded by the BUCKET SPACE
    (≤ N_LSH_TABLES×256 rows regardless of batch size), so the monitor's
    state and merge cost are corpus-independent — at 100 TB the census
    that decides re-planing is a metadata-scale rollup over register-
    table-sized files, never a scan of the index. The per-batch
    signature pass is the same corpus-linear map the batch build pays,
    amortized over ingest.

    Reference parity: no vector or streaming surface in the reference
    engine (HaolingPu/MapReduce-Simulation) — LLM-pipeline extension
    tier, the streaming-ingest twin pattern of
    streaming_hll_sketch_ingest applied to the ANN index census.
    """
    from ..streaming.stateful import drain_delta_log

    stage = stage_once_dir(
        "lsh_ingest_stream_",
        f"sf={sf_dir}",
        "vectors",
        lambda tmp: load_table(spark, sf_dir, "embeddings")
        .repartitionByRange(5, "vec_id")
        .write.mode("overwrite")
        .parquet(tmp),
    )

    def occupancy(batch_df: DataFrame) -> DataFrame:
        sigs = _multitable_signatures(
            batch_df.select("vec_id", _as_double("embedding").alias("v"))
        )
        return sigs.groupBy("tbl", "bucket").agg(F.count(F.lit(1)).alias("c"))

    deltas = drain_delta_log(
        spark,
        sf_dir,
        stage,
        load_table(spark, sf_dir, "embeddings").schema,
        "lsh_census_ingest_",
        occupancy,
    )
    occ = deltas.groupBy("tbl", "bucket").agg(F.sum("c").alias("c"))
    return _census_from_occ(occ)


@memoized_plan
def lsh_index_replane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index RE-PLANING — the action lsh_index_stats' census exists to
    trigger (r16 verdict item 3). When the census's worst-table
    ``expected_probe_candidates`` (the Σc²/N statistic that prices every
    serve probe) crosses REPLANE_THRESHOLD, the production response is to
    rebuild the index with a longer per-table signature: this query
    builds the WIDE config — the same N_LSH_TABLES tables at
    N_HYPERPLANES_WIDE (16) sign bits each, bucket space 256 → 65536 —
    and emits BOTH configs' censuses side by side with the trigger
    verdict, so one result table answers "should we re-plane, and what
    does it buy": collision mass (the serve-join cost law) collapses
    quadratically with bucket-space growth, while the recall price of
    the longer signature is measured by ann_recall_audit's ``lsh`` vs
    ``lsh_wide`` rows — cost here, recall there, both as queries.

    The wide index reuses the SAME frozen LCG plane chain (consumed 16
    planes per table instead of 8) and is staged exactly like the narrow
    one (mt8x16 key), so after this query runs once the re-planed index
    serves at staged-scan cost. The trigger is an 8-row aggregate
    broadcast onto the output — no data-dependent plan branch, so the
    result is deterministic and exactly oracle-replayable at any SF
    (``triggered`` simply reads false below the threshold).

    Scale: both censuses are the bucket-space-bounded two-exchange
    aggregation of _index_census; the wide build is one extra pass over
    the corpus at cluster parallelism, written once — the same
    append-only artifact lifecycle as the narrow index, so a 100 TB
    deployment re-planes by scheduling this query, not by taking the
    serve path down.

    Reference parity: no vector surface in the reference engine
    (HaolingPu/MapReduce-Simulation) — LLM-pipeline extension tier, the
    actuator paired with lsh_index_stats' sensor. Integer-exact
    aggregations + one IEEE division per row → exact value-hash oracle.
    """
    corpus = _corpus_with_norm(spark, sf_dir)
    narrow = _index_census(
        _staged_multitable_signatures(spark, sf_dir, corpus)
    ).withColumn("config", F.lit(f"mt{N_LSH_TABLES}x{N_HYPERPLANES}"))
    wide = _index_census(
        _staged_multitable_signatures(
            spark, sf_dir, corpus, n_planes=N_HYPERPLANES_WIDE
        )
    ).withColumn("config", F.lit(f"mt{N_LSH_TABLES}x{N_HYPERPLANES_WIDE}"))
    trig = narrow.agg(
        (
            F.max("expected_probe_candidates") > F.lit(REPLANE_THRESHOLD)
        ).alias("triggered")
    )
    return (
        narrow.unionByName(wide)
        .crossJoin(broadcast(trig))
        .select(
            "config",
            "tbl",
            "n_vectors",
            "n_buckets",
            "max_bucket",
            "collision_mass",
            "expected_probe_candidates",
            "triggered",
        )
        .orderBy("config", "tbl")
    )


# Exact oracle: ONE recursive-CTE plane chain long enough for the wide
# config; the narrow census reads its 64-plane prefix (the LCG sequence is
# prefix-stable, mirroring the Spark side's shared _hyperplanes chain).
LSH_INDEX_REPLANE_SQL = f"""
WITH RECURSIVE lcg(i, state) AS (
  SELECT 1, (CAST(1234567 AS BIGINT) * 1103515245 + 12345) % 2147483648
  UNION ALL
  SELECT i + 1, (state * 1103515245 + 12345) % 2147483648
  FROM lcg WHERE i < {N_HYPERPLANES_WIDE * N_LSH_TABLES * EMBED_DIM}
),
planes AS (
  SELECT (i - 1) // {EMBED_DIM} AS p,
         list(state / 2147483648.0 - 0.5 ORDER BY i) AS plane
  FROM lcg GROUP BY 1
),
e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
sig_n AS (
  SELECT e.vec_id, pl.p // {N_HYPERPLANES} AS tbl,
         CAST(sum(CASE WHEN {_DOT_SQL_TMPL.format(a='e.v', b='pl.plane')} > 0
                       THEN 1 << (pl.p % {N_HYPERPLANES}) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM e CROSS JOIN planes pl
  WHERE pl.p < {N_HYPERPLANES * N_LSH_TABLES}
  GROUP BY e.vec_id, pl.p // {N_HYPERPLANES}
),
sig_w AS (
  SELECT e.vec_id, pl.p // {N_HYPERPLANES_WIDE} AS tbl,
         CAST(sum(CASE WHEN {_DOT_SQL_TMPL.format(a='e.v', b='pl.plane')} > 0
                       THEN 1 << (pl.p % {N_HYPERPLANES_WIDE}) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM e CROSS JOIN planes pl
  GROUP BY e.vec_id, pl.p // {N_HYPERPLANES_WIDE}
),
census_n AS (
  SELECT CAST(tbl AS INTEGER) AS tbl,
         CAST(sum(c) AS BIGINT) AS n_vectors,
         CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(max(c) AS BIGINT) AS max_bucket,
         CAST(sum(c * c) AS BIGINT) AS collision_mass,
         CAST(sum(c * c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
           AS expected_probe_candidates
  FROM (SELECT tbl, bucket, count(*) AS c FROM sig_n GROUP BY tbl, bucket)
  GROUP BY tbl
),
census_w AS (
  SELECT CAST(tbl AS INTEGER) AS tbl,
         CAST(sum(c) AS BIGINT) AS n_vectors,
         CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(max(c) AS BIGINT) AS max_bucket,
         CAST(sum(c * c) AS BIGINT) AS collision_mass,
         CAST(sum(c * c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
           AS expected_probe_candidates
  FROM (SELECT tbl, bucket, count(*) AS c FROM sig_w GROUP BY tbl, bucket)
  GROUP BY tbl
),
trig AS (
  SELECT max(expected_probe_candidates) > {REPLANE_THRESHOLD} AS triggered
  FROM census_n
)
SELECT u.config, u.tbl, u.n_vectors, u.n_buckets, u.max_bucket,
       u.collision_mass, u.expected_probe_candidates, t.triggered
FROM (
  SELECT 'mt{N_LSH_TABLES}x{N_HYPERPLANES}' AS config, * FROM census_n
  UNION ALL
  SELECT 'mt{N_LSH_TABLES}x{N_HYPERPLANES_WIDE}' AS config, * FROM census_w
) u CROSS JOIN trig t
ORDER BY u.config, u.tbl
"""


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: assign every corpus vector to its nearest
    codebook centroid (its *cell*), probe each query's N_PROBE nearest
    cells, re-score candidates exactly, keep top-5.

    Physical shape for 100 TB:
      - codebook (16 rows) broadcasts; cell assignment is a map-side
        nested loop + groupBy(vec_id) argmax whose partial aggregation
        collapses the 16 candidate rows per vector *before* the exchange —
        shuffle is one row per vector, keyed by an 8-byte id;
      - candidate generation is an equi-join on the cell id (queries
        broadcast), so corpus×queries never materializes;
      - ties broken (cosine DESC, id ASC) identically in the oracle;
      - the assignment table is the IVF INDEX — built once per (corpus,
        codebook) through the keyed staging contract and served from
        parquet at query time (index build vs. query serve), like every
        artifact in the staged tier.
    """

    def build() -> DataFrame:
        corpus = _corpus_with_norm(spark, sf_dir)
        cents = corpus.where(
            (F.col("vec_id") >= N_QUERIES)
            & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
        ).select(
            F.col("vec_id").alias("cid"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
        assign = _staged_ivf_assign(spark, sf_dir, corpus, cents)
        return _ivf_search(corpus, cents, assign=assign)

    # plan memo (r17): the probe/re-score plan is ~0.3 s of py4j to build;
    # serve it prepared, deps (fixture scan + staged assignment)
    # auto-recorded — see staging.py.
    return memo(spark, ("ivf_topk", sf_dir), build)


def _staged_ivf_assign(
    spark: SparkSession,
    sf_dir: str,
    corpus: DataFrame,
    cents: DataFrame,
    variant: str = "fixed16_v1",
) -> DataFrame:
    """The IVF assignment table (vec_id, cell, v, nrm), built once per
    (corpus, codebook ``variant``) and served from parquet. Doubles and longs —
    bitwise roundtrip, so the exact re-score and tie-breaks are unchanged.
    Written at cluster parallelism (the tokdocs lesson).

    Honest local measurement (r8): NEUTRAL at sf0.1 (~0.78 s either way —
    the staged vector scan costs what the 16-dot-product assignment pass
    cost). Kept for the scale story: at real corpus sizes the per-query
    corpus × codebook assignment is the dominant cost and belongs in the
    offline index build, which is how every IVF deployment works."""

    def build() -> DataFrame:
        _note_corpus_source(spark, sf_dir)
        return _ivf_assign(corpus, cents).repartition(
            spark.sparkContext.defaultParallelism
        )

    return stage_once(
        spark, "ivf_idx_", f"{sf_dir}|{variant}", "assign", build
    )


# Codebook training sample cap: k-means for a k≤16 codebook needs a few
# thousand representative vectors, not the corpus. The cap bounds BOTH the
# driver memory (16384 × 64 longs ≈ 8 MB) and the training cost
# regardless of corpus size — at 100 TB the sample is still 16384 rows,
# selected by a single TakeOrdered over the engine's shared affine hash
# (uniform, deterministic, and — unlike xxhash64 — bit-reproducible in
# DuckDB, which is what lets the trained-codebook oracles replay the fit).
TRAIN_CAP = 16384

# Integer-exact codebook training (round 11): Lloyd's over 1e-6-quantized
# vectors with floor-division M-steps — the same exact-arithmetic recipe
# distributed_kmeans_train proved out (operators/mltrain.py), here run
# driver-side over the capped sample. Every step (sample selection, init,
# assignment ties, centroid updates) is integer arithmetic, so the DuckDB
# oracle replays the ENTIRE fit as unrolled CTEs and the trained-IVF/PQ
# queries get exact value-hash checks instead of rows-only.
CB_ITERS = 3
CB_SCALE = 1_000_000

from ..functions.hashing import MINHASH_PERMS as _PERMS, P as _HASH_P
from ..staging import read_staged, stage_once, stage_once_dir

(_CB_A, _CB_B) = _PERMS[2]  # distinct stream from MinHash/HLL uses


def _cb_hash_sql(col: str) -> str:
    """Sample-ordering hash — same text on both engines."""
    return f"(({_CB_A} * (({col}) % {_HASH_P}) + {_CB_B}) % {_HASH_P})"


# Trained-IVF assignment staging variant: shared by the query path and
# tools/staging_costs.py so the two can never build divergent artifacts;
# folds TRAIN_CAP so the assignment can't pair with a codebook trained
# under a different sample cap. v3 = integer-exact trainer.
TRAINED_ASSIGN_VARIANT = (
    f"trained_k{N_CENTROIDS}i{CB_ITERS}cap{TRAIN_CAP}_v3"
)


def _int_train_sample(spark: SparkSession, sf_dir: str) -> "object":
    """Deterministic bounded training sample for codebook fits: the
    TRAIN_CAP corpus vectors with the smallest (affine-hash, vec_id) key,
    1e-6-quantized to int64, IN HASH ORDER (the first CB rows double as
    the Lloyd seeds — a uniform deterministic init). One
    TakeOrderedAndProject job; the collect is capped, never corpus-sized.
    Codebook training is the offline, driver-side step of every PQ/IVF
    deployment (faiss trains on an in-memory sample); the quantization
    uses FLOOR(x·1e6) — unambiguous in both engines, and float→double is
    exact — so DuckDB reproduces the sample bit-for-bit."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    v6 = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(float(CB_SCALE))).cast(
            "long"
        ),
    )
    rows = (
        emb.where(F.col("vec_id") >= N_QUERIES)
        .select(
            "vec_id",
            v6.alias("v6"),
            F.expr(_cb_hash_sql("vec_id")).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(TRAIN_CAP)
        .collect()
    )
    return np.array([r.v6 for r in rows], dtype=np.int64)


def _int_lloyd(X, k: int, iters: int = CB_ITERS):
    """Integer-exact Lloyd's over an int64 sample in hash order: seeds =
    first k rows, E-step = exact squared-distance argmin (numpy argmin
    returns the FIRST minimum — ties to the smaller cid, matching the
    oracle's ORDER BY d, cid), M-step = per-dim floor-division mean
    (numpy // floors like Python and the oracle's sign-safe floordiv),
    empty clusters keep their centroid. Deterministic everywhere; no RNG,
    no float. Returns an int64 (k, dim) array."""
    import numpy as np

    if len(X) < k:
        raise RuntimeError(
            f"codebook sample has {len(X)} rows, need >= {k}"
        )
    C = X[:k].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=-1)
        assign = d.argmin(axis=1)
        for j in range(k):
            pts = X[assign == j]
            if len(pts):
                C[j] = pts.sum(axis=0) // len(pts)
    return C


def _staged_trained_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED IVF codebook (cid, cv, cn), fit once per (corpus, k,
    seed) and served from parquet through the keyed staging contract —
    the same offline-index treatment the fixed-codebook assignment and
    the LSH band/simhash tables already get. A production IVF deployment
    trains its codebook in an offline job and ships the k×dim table to
    searchers; re-fitting seeded k-means inside every query invocation
    (the round-8 shape) mismeasures serve latency and wastes cluster time.

    The fit is the standard sampled pattern: k-means sees a bounded
    sample, never the full corpus; the persisted codebook is tiny
    (k rows) and broadcast at search time. Seeded fit + parquet
    double roundtrip → the staged codebook is bit-identical to the
    in-path one, so recall/results are unchanged."""

    def build() -> DataFrame:
        centers = _int_lloyd(_int_train_sample(spark, sf_dir), N_CENTROIDS)
        # components served as c6/1e6 — a single IEEE division of exact
        # operands, identical to the oracle's CAST(c6 AS DOUBLE)/1e6
        return spark.createDataFrame(
            [
                (i, [int(x) / float(CB_SCALE) for x in c])
                for i, c in enumerate(centers)
            ],
            "cid bigint, cv array<double>",
        ).repartition(1)

    # plan-memo the norm projection so callers get an identity-stable
    # codebook frame (three HOF builds saved per call).
    return memo(
        spark,
        ("trained_cents", sf_dir),
        lambda: stage_once(
            spark,
            "ivf_cb_",
            f"{sf_dir}|k{N_CENTROIDS}i{CB_ITERS}cap{TRAIN_CAP}_v3",
            "cents",
            build,
        ).select("cid", "cv", _norm(F.col("cv")).alias("cn")),
    )


def ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a TRAINED codebook — the production shape acknowledged in
    `ivf_topk`'s docstring: centroids come from an integer-exact Lloyd
    fit (`_int_lloyd`) over a hash-capped sampled slice of the corpus,
    instead of a fixed corpus subset. Search machinery is byte-identical
    to `ivf_topk` (broadcast codebook → partial-agg argmax assignment →
    cell equi-join → exact re-score), so the two differ only in codebook
    quality.

    Scale notes: codebook AND assignment are staged per-corpus index
    artifacts (`_staged_trained_centroids` / `_staged_ivf_assign`), so the
    query path is pure serve: probe the broadcast codebook, equi-join the
    assignment table on the cell id, re-score exactly. Because the fit is
    integer arithmetic end to end (quantized sample, exact distances,
    floor-division M-steps), the DuckDB oracle replays the ENTIRE
    pipeline — sample, init, iterations, assignment, probe, re-score —
    as unrolled CTEs (TRAINED_IVF_TOPK_SQL), giving the trained path an
    exact value-hash check; the recall floor vs brute force is asserted
    in tests too.
    """

    def build() -> DataFrame:
        corpus = _corpus_with_norm(spark, sf_dir)
        cents = _staged_trained_centroids(spark, sf_dir)
        # TRAIN_CAP folded into the variant so the assignment can never
        # pair with a codebook trained under a different cap if staging
        # ever outlives the process (the codebook key includes it too).
        assign = _staged_ivf_assign(
            spark, sf_dir, corpus, cents, variant=TRAINED_ASSIGN_VARIANT
        )
        return _ivf_search(
            corpus, cents, assign=assign, n_probe=N_PROBE_TRAINED
        )

    # plan memo (r17): see ivf_topk — deps (fixture scan, staged codebook,
    # staged assignment) auto-recorded.
    return memo(spark, ("ivf_trained_topk", sf_dir), build)


def _ivf_assign(corpus: DataFrame, cents: DataFrame) -> DataFrame:
    """Cell assignment (broadcast codebook, partial-agg argmax): one row
    per vector, (vec_id, cell, v, nrm)."""
    cell_cos = F.round(
        _dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 6
    )
    # argmax via max(struct): highest cosine, then smallest cid (negated so
    # max picks it) — partial-aggregable, unlike a rank window.
    return (
        corpus.join(broadcast(cents))
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(cell_cos.alias("c"), (-F.col("cid")).alias("nc"))
            ).alias("best"),
            F.first("v").alias("v"),
            F.first("nrm").alias("nrm"),
        )
        .select("vec_id", (-F.col("best.nc")).alias("cell"), "v", "nrm")
    )


def _ivf_search(
    corpus: DataFrame,
    cents: DataFrame,
    assign: DataFrame | None = None,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """Shared IVF machinery: cell assignment (broadcast codebook,
    partial-agg argmax — or a prebuilt/staged assignment table), query
    probing (n_probe nearest cells), candidate equi-join on the cell id,
    exact re-score, per-query top-k."""
    if assign is None:
        assign = _ivf_assign(corpus, cents)
    qw = Window.partitionBy("query_id").orderBy(
        F.col("pcos").desc(), F.col("cid").asc()
    )
    probes = (
        corpus.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
        )
        .join(broadcast(cents))
        .select(
            "query_id", "qv", "qn", "cid",
            F.round(
                _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("pcos"),
        )
        .withColumn("prk", F.row_number().over(qw))
        .where(F.col("prk") <= n_probe)
        .select("query_id", "qv", "qn", F.col("cid").alias("qcell"))
    )
    cos = F.round(
        _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 6
    )
    scored = assign.join(
        broadcast(probes),
        (F.col("cell") == F.col("qcell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


_DOT_SQL = """list_reduce(
        list_prepend(0.0, list_transform(
          list_zip({a}, {b})::STRUCT(a DOUBLE, b DOUBLE)[],
          p -> p.a * p.b)),
        (acc, x) -> acc + x)"""

IVF_TOPK_SQL = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                          (a, b) -> a + b)) AS nrm
  FROM e
),
cents AS (
  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}
),
assign AS (
  SELECT vec_id, cell, v, nrm FROM (
    SELECT x.vec_id, c.cid AS cell, x.v, x.nrm,
           row_number() OVER (
             PARTITION BY x.vec_id
             ORDER BY round({_DOT_SQL.format(a='x.v', b='c.cv')}
                            / (x.nrm * c.cn), 6) DESC,
                      c.cid ASC) AS arn
    FROM n x CROSS JOIN cents c)
  WHERE arn = 1
),
probes AS (
  SELECT query_id, qv, qn, cell FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn, c.cid AS cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round({_DOT_SQL.format(a='q.v', b='c.cv')}
                            / (q.nrm * c.cn), 6) DESC,
                      c.cid ASC) AS prn
    FROM n q CROSS JOIN cents c WHERE q.vec_id < {N_QUERIES})
  WHERE prn <= {N_PROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round({_DOT_SQL.format(a='p.qv', b='a.v')}
               / (p.qn * a.nrm), 6) AS cosine
  FROM assign a JOIN probes p
    ON a.cell = p.cell AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS rk
  FROM scored)
WHERE rk <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# Trained-codebook oracle machinery: the integer-exact Lloyd fit unrolled
# as DuckDB CTEs (the distributed_kmeans_train recipe, mltrain.py), so the
# trained-IVF and PQ oracles replay sample selection → init → iterations →
# serve bit-for-bit.
# ---------------------------------------------------------------------------

_INT_DIST_SQL = """list_reduce(
        list_transform(list_zip({a}, {b})::STRUCT(a BIGINT, b BIGINT)[],
                       p -> (p.a - p.b) * (p.a - p.b)),
        (acc, x) -> acc + x)"""


def _floordiv_duck_sql(a: str, b: str) -> str:
    """Sign-safe floor division (DuckDB // truncates; numpy // floors)."""
    return f"((({a}) - ((({a}) % ({b}) + ({b})) % ({b}))) // ({b}))"


def _cb_sample_ctes() -> str:
    """q6 (quantized corpus) + samp (hash-ordered capped sample, rn) —
    the DuckDB twin of _int_train_sample."""
    return f"""
q6 AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {CB_SCALE}.0) AS BIGINT))
           AS v6
  FROM embeddings
),
samp AS (
  SELECT vec_id, v6, rn FROM (
    SELECT vec_id, v6,
           row_number() OVER (
             ORDER BY {_cb_hash_sql('vec_id')}, vec_id) AS rn
    FROM q6 WHERE vec_id >= {N_QUERIES})
  WHERE rn <= {TRAIN_CAP}
)"""


def _int_lloyd_ctes(prefix: str, k: int, lo: int | None = None,
                    subdim: int | None = None) -> str:
    """CTE chain replaying _int_lloyd for one codebook: {prefix}s (the
    sample slice), {prefix}c0 (seeds = first k sample rows in hash order)
    through {prefix}c{CB_ITERS}. ``lo``/``subdim`` slice the sample for a
    PQ subspace (1-based list_slice); None trains on the full vectors."""
    vexpr = (
        f"list_slice(v6, {lo + 1}, {lo + subdim})"
        if lo is not None
        else "v6"
    )
    dist = _INT_DIST_SQL
    comp = _floordiv_duck_sql("sum(val)", "count(*)")
    parts = [
        f""",
{prefix}s AS (SELECT rn, {vexpr} AS v FROM samp),
{prefix}c0 AS (
  SELECT CAST(rn - 1 AS INTEGER) AS cid, v FROM {prefix}s WHERE rn <= {k}
)"""
    ]
    for t in range(CB_ITERS):
        parts.append(
            f""",
{prefix}a{t} AS (
  SELECT rn, v, cid FROM (
    SELECT s.rn, s.v, c.cid,
           row_number() OVER (PARTITION BY s.rn
                              ORDER BY {dist.format(a='s.v', b='c.v')} ASC,
                                       c.cid ASC) AS arn
    FROM {prefix}s s, {prefix}c{t} c
  ) WHERE arn = 1
),
{prefix}g{t} AS (
  SELECT cid, dim, CAST({comp} AS BIGINT) AS comp
  FROM (SELECT cid, unnest(v) AS val,
               generate_subscripts(v, 1) AS dim FROM {prefix}a{t})
  GROUP BY cid, dim
),
{prefix}c{t + 1} AS (
  SELECT p.cid, coalesce(n.v, p.v) AS v
  FROM {prefix}c{t} p LEFT JOIN (
    SELECT cid, list(comp ORDER BY dim) AS v FROM {prefix}g{t} GROUP BY cid
  ) n ON n.cid = p.cid
)"""
        )
    return "".join(parts)


def _trained_ivf_topk_sql() -> str:
    """Full exact replay of ivf_trained_topk: integer-exact codebook fit
    (unrolled Lloyd CTEs) → serve as c6/1e6 doubles → the IVF_TOPK_SQL
    search (assign, probe at N_PROBE_TRAINED, re-score, top-k)."""
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                          (a, b) -> a + b)) AS nrm
  FROM e
),{_cb_sample_ctes()}{_int_lloyd_ctes('k', N_CENTROIDS)},
cents AS (
  SELECT cid, cv,
         sqrt(list_reduce(list_prepend(0.0,
                list_transform(cv, x -> x * x)), (a, b) -> a + b)) AS cn
  FROM (SELECT cid,
               list_transform(v, x -> CAST(x AS DOUBLE) / {CB_SCALE}.0)
                 AS cv
        FROM kc{CB_ITERS})
),
assign AS (
  SELECT vec_id, cell, v, nrm FROM (
    SELECT x.vec_id, c.cid AS cell, x.v, x.nrm,
           row_number() OVER (
             PARTITION BY x.vec_id
             ORDER BY round({_DOT_SQL.format(a='x.v', b='c.cv')}
                            / (x.nrm * c.cn), 6) DESC,
                      c.cid ASC) AS arn
    FROM n x CROSS JOIN cents c)
  WHERE arn = 1
),
probes AS (
  SELECT query_id, qv, qn, cell FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn, c.cid AS cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round({_DOT_SQL.format(a='q.v', b='c.cv')}
                            / (q.nrm * c.cn), 6) DESC,
                      c.cid ASC) AS prn
    FROM n q CROSS JOIN cents c WHERE q.vec_id < {N_QUERIES})
  WHERE prn <= {N_PROBE_TRAINED}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round({_DOT_SQL.format(a='p.qv', b='a.v')}
               / (p.qn * a.nrm), 6) AS cosine
  FROM assign a JOIN probes p
    ON a.cell = p.cell AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS rk
  FROM scored)
WHERE rk <= {TOP_K}
"""


TRAINED_IVF_TOPK_SQL = _trained_ivf_topk_sql()


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of the IVF ANN path against the exact brute-force
    top-k, per query — the ANN twin of containment_recall_audit: real
    pipelines periodically measure their index's recall on a query sample
    instead of trusting the nprobe envelope across corpus drift (the
    faiss-bench practice, run as a query).

    Composition of already-verified operators: exact = brute-force
    cosine top-k; approx = the FLAT IVF (arbitrary corpus vectors as
    centroids, nprobe=N_PROBE), the TRAINED IVF (integer-exact Lloyd
    codebook), the hyperplane LSH, and the PQ/ADC index — one row per
    (index_variant, query_id) with k, the
    intersection size n_hits, and recall_at_k as one IEEE division of
    exact counts, so the table directly answers "what did training the
    codebook buy" (measured at sf0.1 after the r16 re-tune: flat 0.66 /
    trained 0.96 / lsh 0.76 / pq 0.84 mean recall@5 — the audit exists
    precisely because those numbers are NOT in the envelope comments,
    and it is the measuring stick the r16 operating points were chosen
    against). All inputs are k·N_QUERIES-row tables, so the audit
    join/agg is bounded by the query sample at any corpus size; the
    expensive parts are the searches themselves, whose scale shapes
    (broadcast nested-loop; cell-pruned probe joins) are documented and
    benched on their own registry entries.

    Reference parity: no vector surface in the reference engine
    (HaolingPu/MapReduce-Simulation) — LLM-pipeline extension tier, QA
    sibling of similarity_ivf_topk. Exact value-hash oracle (both
    engines produce identical top-k sets, so counts divide identically).
    """

    def build() -> DataFrame:
        searches = (
            ("ivf_flat", ivf_topk(spark, sf_dir)),
            ("ivf_trained", ivf_trained_topk(spark, sf_dir)),
            ("lsh", lsh_topk(spark, sf_dir)),
            # the re-planed WIDE index (r17): the audit is where
            # lsh_index_replane's recall price is measured — cost movement
            # lives in that query's census rows, recall movement here.
            (
                "lsh_wide",
                _lsh_serve(spark, sf_dir, n_planes=N_HYPERPLANES_WIDE),
            ),
            ("pq", pq_topk(spark, sf_dir)),
        )
        return _ann_recall_audit_plan(
            brute_force_topk(spark, sf_dir), searches
        )

    # plan memo (r17): the union plan cost 1.8-2.1 s of driver py4j per
    # build (5.6k gateway commands profiled), re-paid on every bench
    # repeat. The sub-searches' own memos replay their deps into this
    # recording, so the audit invalidates whenever any of them would.
    return memo(spark, ("ann_recall_audit", sf_dir), build)


def _ann_recall_audit_plan(
    exact_full: DataFrame, searches: tuple
) -> DataFrame:
    """Build the per-(variant, query) recall table (memoized above)."""
    exact = exact_full.select("query_id", "neighbor_id")
    perq = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))

    def audit(approx: DataFrame, variant: str) -> DataFrame:
        hits = (
            exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        return perq.join(hits, "query_id", "left").select(
            F.lit(variant).alias("index_variant"),
            "query_id",
            F.col("k").cast("long").alias("k"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias(
                "n_hits"
            ),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("k").cast("double")
            ).alias("recall_at_k"),
        )

    out = None
    for variant, approx_full in searches:
        a = audit(
            approx_full.select("query_id", "neighbor_id"), variant
        )
        out = a if out is None else out.unionByName(a)
    return out


# ANN_RECALL_AUDIT_SQL is defined at module end — it composes
# PQ_TOPK_SQL/LSH_TOPK_SQL, which are built further down.


# BLAS preselect pool per query: the final ranking re-scores candidates
# with the strict fold, so the pool only needs to contain every vector the
# exact top-k COULD rank — BLAS and the strict fold differ by ~1 ulp, so
# anything outside the top (K + margin) by BLAS score is out of reach.
# 32 leaves >5× headroom over the worst boundary tie plausible at 1e-6
# rounding granularity; correctness against the exact oracle is verified
# at all three SFs.
PANDAS_PRESELECT = 32


@memoized_plan
def brute_force_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized twin of brute_force_topk: the query block (10×64,
    a model-parameter-sized constant) ships to every worker, and each
    mapInPandas batch computes all query dot products as ONE BLAS matmul
    (batch_matrix @ queries.T) instead of interpreted per-element folds.

    BLAS reassociates the dot-product fold (last-ulp drift vs the strict
    fold), so the matmul is used only to PRESELECT: each batch emits its
    local top-PANDAS_PRESELECT candidates per query (a per-batch partial
    top-k — the emitted row count is queries × pool per batch, independent
    of batch size), the global pool is cut to the same size, and the
    survivors are re-scored with the exact strict fold and re-ranked.
    The result is bit-identical to brute_force_topk / the DuckDB oracle
    (exact driver hash), while the corpus-scale scan still runs at BLAS
    speed — the same preselect-then-exact-refine contract pq_topk uses.

    This is the Python-boundary pattern to reach for when the built-in
    expression path becomes compute-bound: still one scan, no extra
    shuffle beyond the tiny candidate pool, Arrow batches both ways.

    Physical shape (r14 rewrite): the pandas stage emits each candidate's
    RAW embedding alongside its ids (float32→float64 widening is exact,
    so the values are bit-identical to the JVM-side _as_double cast),
    which lets the exact re-score run as ONE broadcast join against the
    10 query vectors plus ONE rank window — where the r11 shape paid an
    extra global window cut over the pool and a join back to the corpus
    for the embeddings. The emitted pool stays k-bounded PER BATCH
    (queries × PANDAS_PRESELECT rows regardless of batch size), so
    re-scoring the whole union instead of a pre-cut pool adds only
    k-bounded work per batch at any corpus size — and the containment
    argument (exact top-k ⊆ union of per-batch BLAS pools) is unchanged.
    Measured at sf0.1: 0.83 s → the r8-era level (the r12/r13 'creep' was
    this stage overhead, not drift — see PLANS.md r14)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )  # 10 vectors — a broadcast-sized model constant, not a data collect
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qmat = np.array([r.embedding for r in qrows], dtype=np.float64)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            norms = np.sqrt((mat * mat).sum(axis=1))
            cos = (mat @ qmat.T) / np.outer(norms, qnorm)  # [batch, nq]
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            # mask self-matches (cos=1.0) BEFORE the preselect so they
            # never consume a candidate slot — with them in, the batch
            # containing a query would hold one fewer real candidate and
            # the containment invariant below would only hold with slack
            # (r11 advice)
            cos[ids[:, None] == qids[None, :]] = -np.inf
            keep = min(PANDAS_PRESELECT, len(ids))
            # per-query local top-keep: the global top-pool is contained
            # in the union of per-batch pools (exactly — self-matches are
            # masked out above, so all keep slots hold real candidates)
            top = np.argpartition(-cos, keep - 1, axis=0)[:keep]  # [keep,nq]
            flat = top.reshape(-1)
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qids, keep),
                    "neighbor_id": ids[flat],
                    # raw float64 passthrough of the candidate embeddings
                    # (no arithmetic) — the strict-fold re-score downstream
                    # sees the same bits the JVM cast would produce
                    "v": list(mat[flat]),
                }
            )

    cand = (
        emb.select("vec_id", "embedding")
        .mapInPandas(
            batches,
            schema="query_id long, neighbor_id long, v array<double>",
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
    )

    # exact strict-fold re-score of the k-bounded pool — identical
    # arithmetic to brute_force_topk (the candidate norm recomputed with
    # the same strict fold the corpus path uses), so ids, ranks AND
    # scores hash-match the exact oracle
    corpus = _corpus_with_norm(spark, sf_dir)
    queries = corpus.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cos = F.round(
        _dot(F.col("qv"), F.col("v")) / (F.col("qn") * _norm(F.col("v"))),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.join(broadcast(queries), "query_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rk")
        .orderBy("query_id", "rk")
    )


ANCHOR_MOD = 25


def contrastive_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mine (anchor, positive, negative) triples for contrastive training:
    every ANCHOR_MOD-th vector is an anchor; its positive is the exact
    nearest neighbor by cosine, its negative the exact farthest — the
    deterministic baseline triple miner (production swaps the farthest for
    semi-hard negatives: same plan, different rank predicate).

    Physical shape is brute_force_topk's: anchors broadcast against the
    corpus scan (no corpus shuffle), then ONE window pass over |anchors|
    keys ranks both directions; positives and negatives come from the same
    scored frame, so the corpus is scanned and scored exactly once.
    """
    corpus = _corpus_with_norm(spark, sf_dir)
    anchors = corpus.where(F.col("vec_id") % ANCHOR_MOD == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cos = F.round(
        _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 6
    )
    scored = corpus.join(
        broadcast(anchors), F.col("vec_id") != F.col("anchor_id")
    ).select("anchor_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
    w_pos = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    w_neg = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").asc(), F.col("neighbor_id").asc()
    )
    ranked = scored.select(
        "*",
        F.row_number().over(w_pos).alias("rn_pos"),
        F.row_number().over(w_neg).alias("rn_neg"),
    )
    pos = ranked.where(F.col("rn_pos") == 1).select(
        "anchor_id",
        F.col("neighbor_id").alias("positive_id"),
        F.col("cosine").alias("pos_cosine"),
    )
    neg = ranked.where(F.col("rn_neg") == 1).select(
        "anchor_id",
        F.col("neighbor_id").alias("negative_id"),
        F.col("cosine").alias("neg_cosine"),
    )
    return pos.join(neg, "anchor_id").orderBy("anchor_id")


CONTRASTIVE_TRIPLES_SQL = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                          (a, b) -> a + b)) AS nrm
  FROM e
),
scored AS (
  SELECT q.vec_id AS anchor_id, c.vec_id AS neighbor_id,
         round(list_reduce(
                 list_prepend(0.0, list_transform(
                   list_zip(q.v, c.v)::STRUCT(a DOUBLE, b DOUBLE)[],
                   p -> p.a * p.b)),
                 (acc, x) -> acc + x) / (q.nrm * c.nrm), 6) AS cosine
  FROM n q JOIN n c ON q.vec_id % {ANCHOR_MOD} = 0 AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rn_pos,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY cosine ASC, neighbor_id ASC) AS rn_neg
  FROM scored
)
SELECT p.anchor_id,
       p.neighbor_id AS positive_id, p.cosine AS pos_cosine,
       g.neighbor_id AS negative_id, g.cosine AS neg_cosine
FROM ranked p JOIN ranked g USING (anchor_id)
WHERE p.rn_pos = 1 AND g.rn_neg = 1
ORDER BY p.anchor_id
"""


# Product quantization: EMBED_DIM split into PQ_SUBSPACES subvectors, each
# quantized against a 16-entry per-subspace codebook → 8 small ints per
# vector instead of 64 doubles (64× scan compression at 100 TB).
PQ_SUBSPACES = 8
PQ_SUBDIM = EMBED_DIM // PQ_SUBSPACES
PQ_CODEBOOK = 16
# Re-rank the top K×PQ_REFINE approx candidates exactly. 16 (r9, was 8):
# the sf0.001 per-group sweep caught one query point with ZERO true hits
# at 8× — ADC ordering at a degenerate corpus size can push a true
# neighbor past rank 40. 64 (r16, was 16): the measured frontier at sf0.1
# (ann_recall_audit protocol) priced refine 16→0.48, 32→0.68, 64→0.84
# recall@5 at an UNCHANGED ~1.1 s warm serve — the refine step is a
# K×64-candidate semi-join touching 320 full vectors per query, still a
# rounding error beside the encoded scan it filters, and still
# corpus-independent at 100 TB.
PQ_REFINE = 64


def _staged_pq_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The PQ index — per-subspace codebooks (m, cid, cv) and the encoded
    corpus (vec_id, codes[PQ_SUBSPACES]) — built once per (corpus,
    subspaces, K, seed) and served from parquet through the keyed staging
    contract. This is the artifact a faiss-style deployment persists: the
    8 seeded k-means fits and the corpus encode pass are the offline index
    build; queries only do LUT construction + ADC over the encoded table.
    Re-fitting inside every invocation (the round-8 shape, ~19 s at sf0.01
    cold) conflated build with serve. Ints and doubles roundtrip parquet
    bitwise, so staged results are identical to in-path ones.

    Build cost is corpus-linear: sampled fits see a bounded slice; the
    encode pass is one broadcast join + two partial-agg groupBys over the
    corpus, shuffling one (vec_id, 8 small ints) row per vector."""
    import os

    def write(tmp: str) -> None:
        corpus = _corpus_with_norm(spark, sf_dir)
        base = corpus.where(F.col("vec_id") >= N_QUERIES)

        # 1. one integer-exact driver-side fit per subspace over the shared
        # bounded sample (one slice each — the sample is collected once).
        # _int_lloyd seeds from the first PQ_CODEBOOK sample rows and
        # always returns exactly k rows (the ADC lookup indexes the LUT
        # positionally — raising on a short sample, never shifting slots).
        X6 = _int_train_sample(spark, sf_dir)
        cents_rows = []
        for m in range(PQ_SUBSPACES):
            centers = _int_lloyd(
                X6[:, m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM], PQ_CODEBOOK
            )
            for cid, c in enumerate(centers):
                cents_rows.append(
                    (m, cid, [int(x) / float(CB_SCALE) for x in c])
                )
        cents = spark.createDataFrame(
            cents_rows, "m int, cid int, cv array<double>"
        )

        # 2. encode: argmin centroid per (vector, subspace) as a PURE
        # PROJECTION — the codebook is driver-held during the build, so it
        # ships as a literal 128-slot array inside the expression and every
        # vector computes its 8 codes map-side. Zero shuffle: the encode
        # pass at 100 TB is embarrassingly parallel (scan → project →
        # write), unlike the previous explode + broadcast-join + double
        # groupBy shape, which exchanged 8 rows per vector twice to compute
        # the same 1024 multiplications.
        cb_lit = F.array(
            *[
                F.array(*[F.lit(float(x)) for x in c])
                for (_m, _cid, c) in cents_rows
            ]
        )  # slot m*PQ_CODEBOOK+cid (element_at is 1-based)
        sqd_to = lambda sv, cent: F.aggregate(  # noqa: E731
            F.zip_with(sv, cent, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        # argmin via array_min over (distance, cid) structs: smallest
        # distance, ties to the smaller cid — identical tie policy to the
        # previous max(struct(-d, -cid)) aggregation.
        codes_col = F.transform(
            F.sequence(F.lit(0), F.lit(PQ_SUBSPACES - 1)),
            lambda m: F.array_min(
                F.transform(
                    F.sequence(F.lit(0), F.lit(PQ_CODEBOOK - 1)),
                    lambda cid: F.struct(
                        sqd_to(
                            F.slice(F.col("v"), m * PQ_SUBDIM + 1, PQ_SUBDIM),
                            F.element_at(
                                cb_lit, (m * PQ_CODEBOOK + cid + 1).cast("int")
                            ),
                        ).alias("d"),
                        cid.cast("int").alias("cid"),
                    ),
                )
            )["cid"].cast("bigint"),
        )
        codes = base.select("vec_id", codes_col.alias("codes"))
        cents.repartition(1).write.mode("overwrite").parquet(
            os.path.join(tmp, "cents")
        )
        # No repartition: the encode is a projection, so the write inherits
        # the scan's parallelism — repartitioning would add the only
        # shuffle in the build.
        codes.write.mode("overwrite").parquet(os.path.join(tmp, "codes"))

    index = stage_once_dir(
        "pq_idx_",
        f"{sf_dir}|m{PQ_SUBSPACES}k{PQ_CODEBOOK}i{CB_ITERS}"
        f"cap{TRAIN_CAP}_v3",
        "pq",
        write,
    )
    return (
        read_staged(spark, os.path.join(index, "cents")),
        read_staged(spark, os.path.join(index, "codes")),
    )


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation and
    exact refinement — the compression member of the ANN suite (brute
    force = exact baseline, LSH = bucketing, IVF = partitioning, PQ =
    compressed-domain scoring):

      1. per-subspace codebooks: integer-exact Lloyd fits over each 8-dim
         slice of the hash-capped sample — driver-held, broadcast, like
         any offline codebook;
      2. encode: each corpus vector becomes 8 centroid ids (argmin by
         squared distance; max(struct) partial-agg argmin, same shape as
         the IVF cell assignment);
      3. ADC scoring: each query precomputes its dot product against all
         8×16 centroids (the lookup table); a candidate's approximate
         score is 8 table lookups — no touching the original vectors;
      4. refine: the top K×PQ_REFINE approx candidates are re-scored with
         the EXACT cosine and re-ranked.

    Scale: the scored scan reads (vec_id, codes[8]) — the 64×-smaller
    encoded table — and the LUT join is a broadcast; only the refine step
    fetches the top candidates' full vectors (a semi-join by key).
    Codebooks + encoded corpus are staged per-corpus index artifacts
    (`_staged_pq_index`): a production PQ index trains and encodes
    offline, searchers only serve. The integer-exact fits let the DuckDB
    oracle (PQ_TOPK_SQL) replay the whole pipeline — fits, encode, LUT,
    ADC ordering, refine — bit-for-bit, so the driver value-hash checks
    the PQ result exactly; the recall floor vs brute force
    (PQ_TOPK_ORACLE_SQL ground truth) is asserted in tests as well.
    """

    def build() -> DataFrame:
        corpus = _corpus_with_norm(spark, sf_dir)
        cents, codes = _staged_pq_index(spark, sf_dir)
        return _pq_topk_plan(corpus, cents, codes)

    # plan memo (r17): the LUT/ADC/refine plan is ~0.4 s of py4j to
    # build; serve it prepared, deps (fixture scan + the two staged PQ
    # artifacts) auto-recorded — see staging.py.
    return memo(spark, ("pq_topk", sf_dir), build)


def _pq_topk_plan(
    corpus: DataFrame, cents: DataFrame, codes: DataFrame
) -> DataFrame:
    """Build the PQ LUT → ADC → exact-refine plan (the body pq_topk
    memoizes)."""
    # 3. per-query LUT: dot(query subvector, centroid) for all 8×16 cells,
    # flattened to a 128-slot array indexed by m*16+cid
    queries = corpus.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    lut_entries = (
        queries.join(broadcast(cents))
        .select(
            "query_id",
            "qn",
            (F.col("m") * PQ_CODEBOOK + F.col("cid")).alias("slot"),
            _dot(
                F.slice(F.col("qv"), F.col("m") * PQ_SUBDIM + 1, PQ_SUBDIM),
                F.col("cv"),
            ).alias("part"),
        )
        .groupBy("query_id", "qn")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("slot", "part"))),
                lambda s: s["part"],
            ).alias("lut")
        )
    )

    # ADC: approx dot = Σ_m lut[m*16 + codes[m]] — 8 lookups per candidate
    approx = F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_SUBSPACES - 1)),
        F.lit(0.0),
        lambda acc, m: acc
        + F.element_at(
            F.col("lut"),
            (m * PQ_CODEBOOK + F.element_at(F.col("codes"), m + 1) + 1).cast(
                "int"
            ),
        ),
    )
    aw = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("vec_id").asc()
    )
    cand = (
        codes.join(broadcast(lut_entries))
        .select("query_id", "vec_id", "qn", approx.alias("approx"))
        .withColumn("ark", F.row_number().over(aw))
        .where(F.col("ark") <= TOP_K * PQ_REFINE)
    )

    # 4. exact refinement of the surviving candidates
    cos = F.round(
        _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 6
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.join(corpus.select("vec_id", "v", "nrm"), "vec_id")
        .join(
            broadcast(queries.select("query_id", "qv")), "query_id"
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(rw))
        .where(F.col("rk") <= TOP_K)
        .orderBy("query_id", "rk")
    )


def _pq_topk_sql() -> str:
    """Full exact replay of pq_topk: 8 integer-exact subspace codebook
    fits (unrolled Lloyd CTEs over sample slices) → double-precision
    encode (same strict-fold distances and (d, cid) tie policy as the
    Spark argmin) → per-query LUT → ADC fold in subspace order → top
    K×PQ_REFINE candidates → exact re-score → top-k. Every float op is
    the same IEEE op in the same order as the Spark plan, so the driver
    value-hash checks ADC ordering AND refined scores bit-for-bit."""
    chains = "".join(
        _int_lloyd_ctes(f"p{m}", PQ_CODEBOOK, lo=m * PQ_SUBDIM,
                        subdim=PQ_SUBDIM)
        for m in range(PQ_SUBSPACES)
    )
    cb_union = "\n  UNION ALL ".join(
        f"SELECT {m} AS m, cid, "
        f"list_transform(v, x -> CAST(x AS DOUBLE) / {CB_SCALE}.0) AS cv "
        f"FROM p{m}c{CB_ITERS}"
        for m in range(PQ_SUBSPACES)
    )
    sqd = """list_reduce(
        list_prepend(0.0, list_transform(
          list_zip(list_slice(nn.v, c.m * {sd} + 1, c.m * {sd} + {sd}),
                   c.cv)::STRUCT(a DOUBLE, b DOUBLE)[],
          p -> (p.a - p.b) * (p.a - p.b))),
        (acc, x) -> acc + x)""".format(sd=PQ_SUBDIM)
    lut_dot = _DOT_SQL.format(
        a=f"list_slice(q.v, c.m * {PQ_SUBDIM} + 1, "
        f"c.m * {PQ_SUBDIM} + {PQ_SUBDIM})",
        b="c.cv",
    )
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                          (a, b) -> a + b)) AS nrm
  FROM e
),{_cb_sample_ctes()}{chains},
pqc AS (
  {cb_union}
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT nn.vec_id, c.m, c.cid AS code,
           row_number() OVER (PARTITION BY nn.vec_id, c.m
                              ORDER BY {sqd} ASC, c.cid ASC) AS crn
    FROM n nn, pqc c WHERE nn.vec_id >= {N_QUERIES}
  ) WHERE crn = 1
),
lutp AS (
  SELECT q.vec_id AS query_id, c.m, c.cid, {lut_dot} AS part
  FROM n q, pqc c WHERE q.vec_id < {N_QUERIES}
),
adc AS (
  SELECT cd.vec_id, l.query_id,
         list_reduce(list_prepend(0.0, list(l.part ORDER BY l.m)),
                     (acc, x) -> acc + x) AS approx
  FROM codes cd JOIN lutp l ON l.m = cd.m AND l.cid = cd.code
  GROUP BY cd.vec_id, l.query_id
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx DESC, vec_id ASC) AS ark
    FROM adc
  ) WHERE ark <= {TOP_K * PQ_REFINE}
),
ref AS (
  SELECT c.query_id, nn.vec_id AS neighbor_id,
         round({_DOT_SQL.format(a='q.v', b='nn.v')}
               / (q.nrm * nn.nrm), 6) AS cosine
  FROM cand c
  JOIN n nn ON nn.vec_id = c.vec_id
  JOIN n q ON q.vec_id = c.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS rk
  FROM ref)
WHERE rk <= {TOP_K}
ORDER BY query_id, rk
"""


PQ_TOPK_SQL = _pq_topk_sql()


# Exact brute-force top-k over the SAME restricted corpus PQ searches
# (queries are excluded from the encoded base, unlike
# BRUTE_FORCE_TOPK_SQL's self-search) — the ground truth the recall-floor
# tests measure PQ against.
PQ_TOPK_ORACLE_SQL = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                          (a, b) -> a + b)) AS nrm
  FROM e
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_reduce(
                 list_prepend(0.0, list_transform(
                   list_zip(q.v, c.v)::STRUCT(a DOUBLE, b DOUBLE)[],
                   p -> p.a * p.b)),
                 (acc, x) -> acc + x) / (q.nrm * c.nrm), 6) AS cosine
  FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
)
SELECT query_id, neighbor_id, cosine,
       CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS rk
  FROM scored)
WHERE rk <= {TOP_K}
ORDER BY query_id, rk
"""


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style: coarse cells, within-cell cosine pruning)
# ---------------------------------------------------------------------------

# 6 sign bits → 64 cells. At 100 TB the plane count grows with
# log2(corpus / target_cell_size) so cells stay bounded, or the hyperplane
# cells are swapped for a trained k-means codebook (the ivf_trained path) —
# the within-cell stage is unchanged either way.
SEM_PLANES = 6
SEM_SEED = 7654321  # distinct LCG stream from the pair-LSH planes
SEM_TAU = COSINE_THRESHOLD


@memoized_plan
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level semantic dedup in the spirit of SemDeDup (Abbas et
    al. 2023, arXiv:2303.09540): bucket vectors into coarse cells, then
    inside each cell drop every vector whose cosine to a LOWER-id same-cell
    vector reaches SEM_TAU — the kept set is the deterministic greedy-by-id
    representative of each semantic duplicate group.

    Output: (vec_id, cell, kept) for the whole corpus.

    Plan shape (the part that survives 100 TB):
      1. cell assignment — 6 hyperplane sign bits packed into one int,
         pure narrow JVM expressions over the scan;
      2. candidate pairs — ids-only self-equi-join on cell (never corpus²:
         fanout is bounded by cell population, the SemDeDup trade where
         cross-cell duplicates are accepted misses);
      3. verification — vectors fetched by equi-join for candidate pairs
         only, exact fold cosine, DISTINCT dropped ids;
      4. kept flag — one left join back to the cell table.

    Deterministic procedure end-to-end (LCG planes, greedy-by-id rule), so
    the DuckDB oracle replays it bit-for-bit."""
    corpus = _corpus_with_norm(spark, sf_dir)
    planes = _hyperplanes(SEM_PLANES, seed=SEM_SEED)
    cell = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        pl = F.array(*[F.lit(x) for x in plane])
        cell = cell + F.when(
            _dot(F.col("v"), pl) > 0, F.lit(1 << j)
        ).otherwise(0)
    cells = corpus.withColumn("cell", cell)
    # ids is referenced three times (both candidate-join sides and the
    # kept-flag join) and re-runs the hyperplane fold each time; persisting
    # it was measured-REJECTED (r8: 1.07 → 1.21 s at sf0.1 — the cache
    # materialization pass costs more than the column-pruned recomputes).
    ids = cells.select("vec_id", "cell")
    cand = (
        ids.alias("a")
        .join(
            ids.alias("b"),
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
    )
    ca = cells.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    cb = cells.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.round(
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    dropped = (
        cand.join(ca, "vec_a")
        .join(cb, "vec_b")
        .where(cos >= SEM_TAU)
        .select(F.col("vec_a").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(True))
    )
    return (
        ids.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce(~F.col("is_dropped"), F.lit(True)).alias("kept"),
        )
        .orderBy("vec_id")
    )


SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE lcg(i, state) AS (
  SELECT 1, (CAST({SEM_SEED} AS BIGINT) * 1103515245 + 12345) % 2147483648
  UNION ALL
  SELECT i + 1, (state * 1103515245 + 12345) % 2147483648
  FROM lcg WHERE i < {SEM_PLANES * EMBED_DIM}
),
planes AS (
  SELECT (i - 1) // {EMBED_DIM} AS p,
         list(state / 2147483648.0 - 0.5 ORDER BY i) AS plane
  FROM lcg GROUP BY 1
),
e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                          (a, b) -> a + b)) AS nrm
  FROM e
),
bits AS (
  SELECT n.vec_id,
         CASE WHEN {_DOT_SQL_TMPL.format(a='n.v', b='pl.plane')} > 0
              THEN 1 << pl.p ELSE 0 END AS bit
  FROM n CROSS JOIN planes pl
),
cells AS (
  SELECT vec_id, CAST(sum(bit) AS BIGINT) AS cell FROM bits GROUP BY vec_id
),
cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM cells a JOIN cells b
    ON a.cell = b.cell AND b.vec_id < a.vec_id
),
dropped AS (
  SELECT DISTINCT c.vec_a AS vec_id
  FROM cand c
  JOIN n na ON na.vec_id = c.vec_a
  JOIN n nb ON nb.vec_id = c.vec_b
  WHERE round({_DOT_SQL_TMPL.format(a='na.v', b='nb.v')}
              / (na.nrm * nb.nrm), 6) >= {SEM_TAU}
)
SELECT c.vec_id, c.cell, d.vec_id IS NULL AS kept
FROM cells c LEFT JOIN dropped d ON d.vec_id = c.vec_id
ORDER BY c.vec_id
"""


# ---------------------------------------------------------------------------
# Nearest-centroid classification (exact, oracle-checked ML inference)
# ---------------------------------------------------------------------------

@memoized_plan
def centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify every embedding by its nearest per-label centroid — the
    prototype (Rocchio / nearest-class-mean) classifier, the simplest
    model-based labeler a curation pipeline runs over embeddings, and the
    building block of the fastText-style quality classifiers used for
    corpus filtering. Reports the true label, predicted label, the
    (rounded) squared distance to the winning centroid, and a correctness
    flag.

    Cross-engine exactness: float sums are order-dependent, so centroids
    are accumulated in DECIMAL — each component is widened to double,
    rounded to 6 decimals (the established cross-engine-safe rounding),
    and cast to DECIMAL(18,6); the per-(label, dim) SUM is then exact and
    order-free on both engines, and the mean is one double division
    emitted UNROUNDED (re-rounding an average of grid values is where the
    engines' round() algorithms disagree — the ccnet boundary class,
    observed here at sf0.1). Distances fold component-wise over the index-ordered
    zip (the strict-left-fold dot-product discipline above), rounded to 6
    before the argmin; ties break toward the smaller label.

    Scale: the centroid build is one (label, dim) partial-aggregated
    exchange — map-side combine collapses every partition to
    |labels|·dims rows, so the shuffle carries model-sized state, not
    corpus. The |labels| centroid arrays broadcast; scoring is a narrow
    fanout-|labels| map plus a per-vector argmin partial agg. No window,
    no cartesian product beyond the broadcast-bounded centroid set.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v6 = F.transform(
        _as_double("embedding"), lambda x: F.round(x, 6)
    )
    # base feeds the centroid build and the scoring crossJoin; it is a
    # narrow projection over the fixture scan, so re-deriving it twice is
    # two columnar scans. A/B r17: dropping the tracked persist is wall-
    # neutral at sf0.1 (warm ~1.1 s both ways, identical rows) but makes
    # the build pure so the plan memo can serve it (saves the ~0.2 s
    # py4j rebuild per call) — and removes a cache bigger than the two
    # scans it saved.
    base = emb.select("vec_id", "label", v6.alias("v"))

    comp = base.select(
        "label",
        F.posexplode("v").alias("dim", "val"),
    )
    cent = (
        comp.groupBy("label", "dim")
        .agg(
            # decimal sum is exact; the raw quotient is bit-identical in
            # both engines and is NOT re-rounded — an average of round-6
            # grid values can land exactly on the x.xxxxxx5 boundary,
            # where Spark's and DuckDB's round() disagree (found at
            # sf0.1, same failure class as ccnet_perplexity_buckets).
            (
                F.sum(F.col("val").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("cval")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                lambda s: s["cval"],
            ).alias("cv")
        )
        .withColumnRenamed("label", "clabel")
    )
    sqd = F.round(
        F.aggregate(
            F.zip_with(
                F.col("v"), F.col("cv"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    best = (
        base.crossJoin(broadcast(cent))
        .select("vec_id", "label", sqd.alias("d"), "clabel")
        .groupBy("vec_id", "label")
        .agg(F.min(F.struct("d", "clabel")).alias("best"))
    )
    return best.select(
        "vec_id",
        "label",
        F.col("best.clabel").alias("pred_label"),
        F.col("best.d").alias("sq_dist"),
        (F.col("label") == F.col("best.clabel")).alias("correct"),
    ).orderBy("vec_id")


CENTROID_CLASSIFY_SQL = """
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[], x -> round(x, 6)) AS v
  FROM embeddings
),
comp AS (
  SELECT label,
         unnest(v) AS val,
         generate_subscripts(v, 1) AS dim
  FROM v
),
cent AS (
  SELECT label AS clabel, dim,
         CAST(sum(CAST(round(val, 6) AS DECIMAL(18,6))) AS DOUBLE)
           / count(*) AS cval
  FROM comp GROUP BY label, dim
),
carr AS (
  SELECT clabel, list(cval ORDER BY dim) AS cv FROM cent GROUP BY clabel
),
scored AS (
  SELECT v.vec_id, v.label, c.clabel,
         round(list_reduce(list_prepend(0.0, list_transform(
                 list_zip(v.v, c.cv)::STRUCT(a DOUBLE, b DOUBLE)[],
                 pr -> (pr.a - pr.b) * (pr.a - pr.b))),
               (acc, x) -> acc + x), 6) AS d
  FROM v CROSS JOIN carr c
),
ranked AS (
  SELECT vec_id, label, clabel, d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, clabel) AS rn
  FROM scored
)
SELECT vec_id, label, clabel AS pred_label, d AS sq_dist,
       (label = clabel) AS correct
FROM ranked WHERE rn = 1
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# MMR diversified re-ranking (Carbonell & Goldstein 1998)
# ---------------------------------------------------------------------------

MMR_POOL = 20
MMR_K = 5
MMR_LAMBDA = 0.7


def _unit(col: Column) -> Column:
    nrm = _norm(col)
    return F.transform(col, lambda x: x / nrm)


def _round_away(x: float, decimals: int) -> float:
    """Round-half-away-from-zero on the exact binary value (Python's
    built-in round is banker's and would diverge on exact ties)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(x).quantize(
            Decimal(1).scaleb(-decimals), rounding=ROUND_HALF_UP
        )
    )


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: retrieve a relevance pool
    for one query (vec_id 0), then greedily select MMR_K results trading
    relevance against redundancy — mmr(c) = λ·rel(c) − (1−λ)·max sim(c,
    selected). The standard diversification pass a retrieval pipeline
    runs AFTER ANN: the expensive stage (pool retrieval) is the
    broadcast-scan top-k this package already has; MMR itself always runs
    on the bounded pool (top-20 here, top-100s in production), so the
    greedy loop is driver-side over a broadcast-bounded set — the same
    bounded-collect class as a dimension broadcast, never corpus-wide.

    Cross-engine exactness: every similarity is a strict left fold over
    component-wise normalized vectors (normalize first, THEN fold — fold
    order and the division order both pinned), rounded half-away-from-zero
    to 6 decimals before any comparison; ties break toward the smaller
    vec_id. The driver-side loop mirrors the oracle's unrolled greedy
    CTEs step for step (the BPE-stage-unrolling precedent).
    """
    corpus = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    unit = corpus.select("vec_id", _unit(F.col("v")).alias("u"))
    q = unit.where(F.col("vec_id") == 0).select(F.col("u").alias("qu"))
    rel = (
        unit.where(F.col("vec_id") != 0)
        .crossJoin(broadcast(q))
        .select(
            "vec_id",
            "u",
            F.round(_dot(F.col("qu"), F.col("u")), 6).alias("rel"),
        )
    )
    pool = rel.orderBy(F.desc("rel"), F.asc("vec_id")).limit(MMR_POOL)
    rows = pool.collect()  # bounded: MMR_POOL rows

    def dot(a: list, b: list) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    cands = [(r["vec_id"], list(r["u"]), float(r["rel"])) for r in rows]
    selected: list[tuple[int, float, float]] = []  # (vec_id, rel, mmr)
    sel_vecs: list[list[float]] = []
    while len(selected) < MMR_K and len(selected) < len(cands):
        best = None
        for vid, u, rl in cands:
            if any(vid == s[0] for s in selected):
                continue
            # MMR scores round at SEVEN decimals: λ·(round-6 value) lies
            # exactly ON the 1e-7 grid in true arithmetic, so a 7-decimal
            # round never sits near a tie — whereas rounding at 6 would
            # put ~every score exactly on a .5 boundary (λ=0.7 maps the
            # 1e-6 grid onto {0,5} seventh digits) and expose the two
            # engines' differing tie semantics. Similarities stay at the
            # established 6 (cosines are generic, never near ties).
            if sel_vecs:
                maxsim = max(_round_away(dot(u, su), 6) for su in sel_vecs)
                score = _round_away(
                    MMR_LAMBDA * rl - (1 - MMR_LAMBDA) * maxsim, 7
                )
            else:
                score = _round_away(MMR_LAMBDA * rl, 7)
            # argmax with ties toward the smaller vec_id
            if best is None or score > best[3] or (
                score == best[3] and vid < best[0]
            ):
                best = (vid, u, rl, score)
        selected.append((best[0], best[2], best[3]))
        sel_vecs.append(best[1])
    return spark.createDataFrame(
        [
            (i + 1, vid, rl, mmr)
            for i, (vid, rl, mmr) in enumerate(selected)
        ],
        "rank int, vec_id long, rel double, mmr double",
    )


def _mmr_sql() -> str:
    dot = _DOT_SQL_TMPL
    lam, mu = MMR_LAMBDA, 1 - MMR_LAMBDA
    steps = []
    prev_sel = []
    for i in range(1, MMR_K + 1):
        if i == 1:
            steps.append(
                f"s1 AS (SELECT vec_id, u, rel, round({lam} * rel, 7) AS mmr"
                f" FROM pool ORDER BY rel DESC, vec_id ASC LIMIT 1)"
            )
        else:
            sims = ", ".join(
                "round("
                + dot.format(a="p.u", b=f"s{j}.u")
                + ", 6)"
                for j in range(1, i)
            )
            froms = ", ".join(f"s{j}" for j in range(1, i))
            notin = ", ".join(f"(SELECT vec_id FROM s{j})" for j in range(1, i))
            steps.append(
                f"s{i} AS (SELECT p.vec_id, p.u, p.rel, "
                f"round({lam} * p.rel - {mu} * greatest({sims}), 7) AS mmr "
                f"FROM pool p, {froms} "
                f"WHERE p.vec_id NOT IN ({notin}) "
                f"ORDER BY mmr DESC, p.vec_id ASC LIMIT 1)"
            )
        prev_sel.append(i)
    union = "\nUNION ALL\n".join(
        f"SELECT {i} AS rank, vec_id, rel, mmr FROM s{i}"
        for i in range(1, MMR_K + 1)
    )
    qdot = dot.format(a="q.u", b="c.u")
    return f"""
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_reduce(list_prepend(0.0,
           list_transform(embedding::DOUBLE[], x -> x * x)),
           (a, b) -> a + b)) AS nrm
  FROM embeddings
),
u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
q AS (SELECT u FROM u WHERE vec_id = 0),
pool AS (
  SELECT c.vec_id, c.u, round({qdot}, 6) AS rel
  FROM u c, q
  WHERE c.vec_id <> 0
  ORDER BY rel DESC, c.vec_id ASC
  LIMIT {MMR_POOL}
),
{", ".join(steps)}
SELECT rank, vec_id, rel, mmr FROM ({union})
ORDER BY rank
"""


MMR_RERANK_SQL = _mmr_sql()


ANN_RECALL_AUDIT_SQL = f"""
WITH exact AS ({BRUTE_FORCE_TOPK_SQL}),
flat AS ({IVF_TOPK_SQL}),
trained AS ({TRAINED_IVF_TOPK_SQL}),
lshv AS ({LSH_TOPK_SQL}),
lshw AS ({LSH_TOPK_WIDE_SQL}),
pqv AS ({PQ_TOPK_SQL}),
approx AS (
  SELECT 'ivf_flat' AS index_variant, query_id, neighbor_id FROM flat
  UNION ALL
  SELECT 'ivf_trained', query_id, neighbor_id FROM trained
  UNION ALL
  SELECT 'lsh', query_id, neighbor_id FROM lshv
  UNION ALL
  SELECT 'lsh_wide', query_id, neighbor_id FROM lshw
  UNION ALL
  SELECT 'pq', query_id, neighbor_id FROM pqv
),
hits AS (
  SELECT a.index_variant, x.query_id, count(*) AS n_hits
  FROM exact x JOIN approx a
    ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
  GROUP BY 1, 2
),
perq AS (SELECT query_id, count(*) AS k FROM exact GROUP BY query_id),
variants AS (SELECT 'ivf_flat' AS index_variant UNION ALL
             SELECT 'ivf_trained' UNION ALL
             SELECT 'lsh' UNION ALL SELECT 'lsh_wide' UNION ALL
             SELECT 'pq')
SELECT v.index_variant, p.query_id, CAST(p.k AS BIGINT) AS k,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / CAST(p.k AS DOUBLE)
         AS recall_at_k
FROM perq p CROSS JOIN variants v
LEFT JOIN hits h
  ON h.query_id = p.query_id AND h.index_variant = v.index_variant
"""
