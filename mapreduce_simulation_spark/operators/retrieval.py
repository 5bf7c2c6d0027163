"""Sparse (BM25) and hybrid (reciprocal-rank-fusion) retrieval.

The missing half of the similarity family: operators/similarity.py ranks by
dense cosine; real retrieval pipelines pair that with a sparse keyword
scorer and fuse the two rankings. Both operators here are pure DataFrame
plans with exact DuckDB oracles.

  bm25_topk        Okapi BM25 over the documents table for a fixed query
                   set — tf / df / doc-length statistics are TYPE tables
                   (|vocab|, |docs| cardinality, sublinear in corpus
                   bytes); queries broadcast onto the tf table.
  rrf_hybrid_topk  Reciprocal-rank fusion of the BM25 ranking with the
                   dense cosine ranking (1/(k + rank) summed per system)
                   — the standard hybrid-retrieval combiner. Fusion
                   operates on each system's BOUNDED top-POOL_K list, so
                   the quadratic stage never touches the corpus.

Cross-engine exactness: the one `ln` (BM25's idf) follows the package's
lm_perplexity discipline — applied to a ratio of small integers and
rounded to 6 decimals BEFORE any multiplication or aggregation; every
other term (length norm, 1/(k+rank)) is a fixed-order IEEE expression
over integers, bit-identical in both engines. Per-document BM25 sums
accumulate the round-6 contributions in decimal(18,6) (exact, order-
independent); the RRF sum is two coalesced terms added in the same
written order on both sides.

Scale (r8 form): the tf table and its doc-length twin are STAGED
per-corpus artifacts (the inverted index — one token exchange paid at
index build, amortized over every query); at query time the posting
fetch is a literal term filter PUSHED TO THE PARQUET SCAN, per-term df
is a type-table aggregate over the filtered postings, and the query set
broadcasts. Per-query rankings prefilter to the local top-k below the
3-partition rank window (WindowGroupLimit). At 100 TB the candidate-
generation stage is the scalable part (this index / IVF — both in the
catalog); rank fusion itself only ever sees pool-sized inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window


from ..tables import load_table
from ..staging import memoized_plan, stage_once
from .similarity import _as_double, _dot, _norm
from .text import tokens

K1 = 1.2
B = 0.75
TF_NUM = 2.2  # k1 + 1, written as the same literal in both engines
ONE_MINUS_B = 0.25
RRF_K = 60
BM25_TOP_K = 10
POOL_K = 50

# Fixed query set: three keyword queries over the synthetic vocabulary.
# query_id doubles as the doc/vec id of the matching dense query vector
# (documents.doc_id and embeddings.vec_id share the 0..N-1 id space —
# TESTDATA.md).
QUERY_TERMS: dict[int, list[str]] = {
    0: ["spark", "join", "table"],
    1: ["stream", "window", "batch"],
    2: ["sort", "merge", "key"],
}


def _query_df(spark: SparkSession) -> DataFrame:
    rows = [(q, t) for q, ts in QUERY_TERMS.items() for t in ts]
    return spark.createDataFrame(rows, "query_id INT, term STRING")


def _query_values_sql() -> str:
    rows = ", ".join(
        f"({q}, '{t}')" for q, ts in QUERY_TERMS.items() for t in ts
    )
    return f"(VALUES {rows}) AS q(query_id, term)"


def _staged_tf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's (doc_id, w, tf) term-frequency table, BUILT ONCE per
    corpus and served from parquet — the inverted index of a search
    system, which production builds per snapshot and serves every query
    from (index build vs. query serve).  Every other BM25 statistic
    derives from it with type-table aggregates: dl = Σ_w tf per doc,
    df = row count per w, avgdl from dl.  Integer/string columns —
    bitwise roundtrip, oracles unchanged."""
    return stage_once(
        spark,
        "bm25_tf_",
        f"{sf_dir}|ws_v1",
        "tf",
        lambda: load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf")),
    )


def _staged_dl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document length table (doc_id, dl = Σ_w tf), derived once
    from the staged tf index and stored beside it — the second half of
    the inverted-index artifact (a search system stores doc lengths with
    the postings). Integer columns — bitwise roundtrip."""
    return stage_once(
        spark,
        "bm25_tf_",
        f"{sf_dir}|ws_v1",
        "dl",
        lambda: _staged_tf_index(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("tf").cast("long").alias("dl")),
    )


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, score): BM25 score of every document containing
    at least one query term, self-doc excluded (query_id is also a doc id
    — see module docstring)."""
    docs = load_table(spark, sf_dir, "documents")
    # The tf table is the staged per-corpus inverted index and dl its
    # stored doc-length twin. The query's terms are LITERALS, so the
    # posting fetch is an isin() filter PUSHED TO THE PARQUET SCAN
    # (row-group pruning on the w column), not a join against the full
    # index; per-term df over the filtered postings is exact (filtering
    # by w keeps every row of that w).
    all_terms = sorted({t for ts in QUERY_TERMS.values() for t in ts})
    tf = _staged_tf_index(spark, sf_dir).where(F.col("w").isin(*all_terms))
    dl = _staged_dl(spark, sf_dir)
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
    ).crossJoin(
        broadcast(
            dl.agg(
                (
                    F.sum("dl").cast("double") / F.count(F.lit(1))
                ).alias("avgdl")
            )
        )
    )
    idf = F.round(
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            + 1.0
        ),
        6,
    )
    tfnorm = (F.col("tf") * F.lit(TF_NUM)) / (
        F.col("tf")
        + F.lit(K1)
        * (F.lit(ONE_MINUS_B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
    )
    # Round-6 contributions sum exactly as LONGS in 1e-6 units (per-doc
    # totals bounded by |query terms| · max contribution — tiny); the
    # single decimal division before the double cast reproduces the
    # decimal(18,6) accumulation bit-for-bit.
    contr6 = F.round(F.round(idf * tfnorm, 6) * 1_000_000).cast("long")
    return (
        tf.join(broadcast(_query_df(spark)), tf.w == F.col("term"))
        .join(broadcast(dfreq), "w")
        .join(broadcast(dl), "doc_id")
        .crossJoin(broadcast(stats))
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(
            (F.sum(contr6).cast("decimal(38,0)") / F.lit(1_000_000))
            .cast("double")
            .alias("score")
        )
    )


_BM25_SCORES_SQL_TMPL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(str_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS w
  FROM documents
),
tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT CAST(sum(dl) AS DOUBLE) / count(*) FROM dl) AS avgdl
),
contrib AS (
  SELECT q.query_id, tf.doc_id,
         round(round(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0), 6)
               * ((tf.tf * {tf_num})
                  / (tf.tf + {k1} * ({one_minus_b}
                                     + {b} * dl.dl / s.avgdl))), 6) AS c
  FROM tf
  JOIN {query_values} ON tf.w = q.term
  JOIN dfreq d ON d.w = tf.w
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  WHERE tf.doc_id <> q.query_id
)
, bm25 AS (
  SELECT query_id, doc_id,
         CAST(sum(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS score
  FROM contrib GROUP BY query_id, doc_id
)
"""


def _bm25_scores_sql() -> str:
    return _BM25_SCORES_SQL_TMPL.format(
        tf_num=TF_NUM,
        k1=K1,
        one_minus_b=ONE_MINUS_B,
        b=B,
        query_values=_query_values_sql(),
    )


@memoized_plan
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents per keyword query under Okapi BM25
    (k1=1.2, b=0.75).

    Plan: ONE exploded-token exchange feeds tf/dl/df (all type tables);
    the 9-row query set and the df/dl lookups broadcast; the per-query
    top-10 prefilters below the 3-partition rank window. Ties broken on
    doc_id, scores exact per the module discipline.
    """
    scored = _bm25_scores(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= BM25_TOP_K)
        .select("query_id", "doc_id", "score", "rk")
        .orderBy("query_id", "rk")
    )


BM25_TOPK_SQL = (
    _bm25_scores_sql()
    + f"""
SELECT query_id, doc_id, score, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, doc_id ASC) AS rk
  FROM bm25)
WHERE rk <= {BM25_TOP_K}
ORDER BY query_id, rk
"""
)


@memoized_plan
def rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents per query under reciprocal-rank fusion of the
    BM25 ranking and the dense cosine ranking:
    rrf(d) = Σ_systems 1/(RRF_K + rank_sys(d)), summed over the systems
    whose top-POOL_K list contains d.

    The fusion stage is a full outer join of two 50-row-per-query lists —
    pool-sized, never corpus-sized; candidate generation is where scale
    lives (inverted index for sparse, IVF for dense, both elsewhere in
    the catalog). 1/(k + rank) is an integer-fed IEEE division rounded
    to 6 decimals; the two-term sum is written in the same order in both
    engines.
    """
    bm25 = _bm25_scores(spark, sf_dir)
    wq = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    sparse = (
        bm25.withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= POOL_K)
        .select("query_id", "doc_id", F.col("rk").alias("rk_sparse"))
    )

    emb = load_table(spark, sf_dir, "embeddings")
    v = _as_double("embedding")
    corpus = emb.select(
        "vec_id", v.alias("v"), _norm(v).alias("nrm")
    )
    qids = list(QUERY_TERMS)
    qvecs = corpus.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").cast("int").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cos = F.round(
        _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 6
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("doc_id").asc()
    )
    dense = (
        corpus.join(broadcast(qvecs), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            cos.alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(wc))
        .where(F.col("rk") <= POOL_K)
        .select("query_id", "doc_id", F.col("rk").alias("rk_dense"))
    )

    rrf = (
        sparse.join(dense, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            (
                F.coalesce(
                    F.round(1.0 / (F.lit(RRF_K) + F.col("rk_sparse")), 6),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.round(1.0 / (F.lit(RRF_K) + F.col("rk_dense")), 6),
                    F.lit(0.0),
                )
            ).alias("rrf_score"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return (
        rrf.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= BM25_TOP_K)
        .select("query_id", "doc_id", "rrf_score", "rk")
        .orderBy("query_id", "rk")
    )


def _rrf_sql() -> str:
    qids = ", ".join(str(q) for q in QUERY_TERMS)
    return (
        _bm25_scores_sql()
        + f"""
, sparse AS (
  SELECT query_id, doc_id, rk AS rk_sparse
  FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id ASC) AS rk
    FROM bm25)
  WHERE rk <= {POOL_K}
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
dense AS (
  SELECT query_id, doc_id, rk AS rk_dense
  FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, doc_id ASC) AS rk
    FROM (
      SELECT CAST(q.vec_id AS INTEGER) AS query_id,
             c.vec_id AS doc_id,
             round(list_reduce(
                     list_prepend(0.0, list_transform(
                       list_zip(q.v, c.v)::STRUCT(a DOUBLE, b DOUBLE)[],
                       p -> p.a * p.b)),
                     (acc, x) -> acc + x) / (q.nrm * c.nrm), 6) AS cosine
      FROM n q JOIN n c ON q.vec_id IN ({qids}) AND c.vec_id <> q.vec_id))
  WHERE rk <= {POOL_K}
),
fused AS (
  SELECT coalesce(s.query_id, d.query_id) AS query_id,
         coalesce(s.doc_id, d.doc_id) AS doc_id,
         coalesce(round(1.0 / ({RRF_K} + s.rk_sparse), 6), 0.0)
         + coalesce(round(1.0 / ({RRF_K} + d.rk_dense), 6), 0.0)
           AS rrf_score
  FROM sparse s
  FULL OUTER JOIN dense d
    ON s.query_id = d.query_id AND s.doc_id = d.doc_id
)
SELECT query_id, doc_id, rrf_score, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY rrf_score DESC, doc_id ASC) AS rk
  FROM fused)
WHERE rk <= {BM25_TOP_K}
ORDER BY query_id, rk
"""
    )


RRF_HYBRID_TOPK_SQL = _rrf_sql()
