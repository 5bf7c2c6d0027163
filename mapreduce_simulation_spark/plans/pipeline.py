"""The north-star composite: a training-data curation pipeline as ONE
declarative plan — quality filter → language filter → exact dedup →
near-dup removal → per-source corpus statistics. Each stage exists (and is
oracle-verified) as a standalone query; this chains them so Catalyst
optimizes ACROSS stage boundaries: the quality/language predicates merge
into one scan-side filter, the fingerprint window and the near-dup
anti-join reuse the already-filtered row set, and column pruning carries
end-to-end. The reference engine would run this as four chained MapReduce
jobs with a full disk round-trip between each (reference manager job
queue, SURVEY.md §3 E1); here the whole pipeline is one DAG.

Scale: the heaviest stage (near-dup pair generation) runs on the
quality+language SURVIVORS only — filter-first ordering cuts the quadratic
stage's input, the standard curation-pipeline discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import hashing as H
from ..operators import text as T
from ..operators.dedup import JACCARD_THRESHOLD, _pair_jaccard, _shingles
from ..tables import load_table
from ..staging import memoized_plan

MIN_QUALITY = 0.5


def _quality(toks) -> F.Column:
    n_tokens = F.size(toks)
    stop_ratio = F.size(
        F.filter(toks, lambda x: x.isin(*T.STOPWORDS))
    ) / n_tokens.cast("double")
    uniq_ratio = F.size(F.array_distinct(toks)) / n_tokens.cast("double")
    length_term = F.least(n_tokens.cast("double") / 100.0, F.lit(1.0))
    return length_term * 0.4 + stop_ratio * 0.2 + uniq_ratio * 0.4


def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor statistics per source after the full curation pipeline:
    quality ≥ 0.5, predicted-English only, exact dups collapsed to the
    smallest doc_id, near-dup pairs resolved by dropping the larger id
    (greedy pairwise rule — the transitive variant is
    dedup_connected_components)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    pred_en = (
        ~F.col("text").rlike(r"[\x{4E00}-\x{9FFF}]")
        & (F.size(F.filter(toks, lambda x: x.isin(*T.LANG_MARKERS["de"]))) == 0)
        & (F.size(F.filter(toks, lambda x: x.isin(*T.LANG_MARKERS["fr"]))) == 0)
        & (F.size(F.filter(toks, lambda x: x.isin(*T.LANG_MARKERS["es"]))) == 0)
    )
    kept = docs.where((_quality(toks) >= MIN_QUALITY) & pred_en)

    # exact dedup: keep the smallest doc_id per content fingerprint
    w = Window.partitionBy(H.char_hash(F.col("text")))
    kept = kept.withColumn("rk", F.row_number().over(w.orderBy("doc_id"))).where(
        F.col("rk") == 1
    ).drop("rk")

    # near-dup removal among survivors: greedy pairwise — drop doc_b
    pairs = _pair_jaccard(_shingles(kept), None)
    survivors = kept.join(
        pairs.select(F.col("doc_b").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )

    return (
        survivors.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(T.tokens(F.col("text"))).cast("long")).alias(
                "total_tokens"
            ),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in T.STOPWORDS)


def _markers_sql(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in T.LANG_MARKERS[lang])


TRAINING_PIPELINE_SQL = rf"""
WITH base AS (
  SELECT doc_id, text, source, n_chars,
         list_filter(str_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
  FROM documents
),
scored AS (
  SELECT *,
    least(CAST(len(ts) AS DOUBLE) / 100.0, 1.0) * 0.4
    + (CAST(len(list_filter(ts, x -> x IN ({_STOPWORDS_SQL}))) AS DOUBLE)
       / len(ts)) * 0.2
    + (CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)) * 0.4 AS quality,
    NOT regexp_matches(text, '[\x{{4E00}}-\x{{9FFF}}]')
      AND len(list_filter(ts, x -> x IN ({_markers_sql('de')}))) = 0
      AND len(list_filter(ts, x -> x IN ({_markers_sql('fr')}))) = 0
      AND len(list_filter(ts, x -> x IN ({_markers_sql('es')}))) = 0
      AS pred_en
  FROM base
),
kept AS (
  SELECT doc_id, text, source, n_chars, ts,
         row_number() OVER (PARTITION BY {H.char_hash_sql('text')}
                            ORDER BY doc_id) AS rk
  FROM scored WHERE quality >= {MIN_QUALITY} AND pred_en
),
documents_kept AS (
  SELECT doc_id, text, source, n_chars, ts FROM kept WHERE rk = 1
),
tok2 AS (
  SELECT doc_id,
         list_transform(ts,
           t -> coalesce(list_reduce(
             list_transform(list_filter(str_split(t, ''), x -> x <> ''),
               x -> CAST(ascii(x) AS BIGINT)), (a, b) -> (a * 31 + b) % {H.P}), 0)
         ) AS hs
  FROM documents_kept
),
sh AS (
  SELECT doc_id, unnest(list_distinct(
           [((hs[i] * 131 + hs[i+1]) % {H.P} * 131 + hs[i+2]) % {H.P}
            for i in generate_series(1, len(hs) - 2)])) AS shingle
  FROM tok2 WHERE len(hs) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
neardups AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
        >= {JACCARD_THRESHOLD}
),
survivors AS (
  SELECT * FROM documents_kept
  WHERE doc_id NOT IN (SELECT doc_id FROM neardups)
)
SELECT source, count(*) AS n_docs,
       CAST(sum(len(ts)) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM survivors
GROUP BY source ORDER BY source
"""


@memoized_plan
def curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 curation recipe as ONE plan: Gopher rule filter →
    per-language perplexity banding (drop the tail tercile) → exact dedup
    (keep-first per content fingerprint) → per-source survivor statistics.
    Sibling of training_data_pipeline (the score-based v1 recipe); v2 is
    the rule-based + LM-banded pipeline modern pretraining corpora
    actually use (Gopher rules, CCNet buckets, then dedup).

    Each stage is the standalone oracle-verified operator
    (text.gopher_quality_rules, curation.ccnet_perplexity_buckets); the
    pipeline joins their doc_id verdicts back to the corpus so the heavy
    stages run once and Catalyst prunes columns end-to-end. Filter-first
    ordering again: the fingerprint dedup window runs on rule+band
    SURVIVORS only.

    Scale: the verdict joins key on doc_id (8-byte keys); the dedup window
    partitions by the 63-bit content fingerprint — per-group state is the
    duplicate-set size, never corpus-wide. Survivor aggregation is a
    |sources|-cardinality partial agg.

    The corpus is tokenized ONCE — per corpus, not per pipeline run: the
    staged token store (doc_id, lang, source, n_chars, fp, ws — see
    text.staged_tokenized_docs) is the tier's root artifact, and every
    downstream consumer — the Gopher rule flags, CCNet's exploded-token
    LM tables, the dedup window key (the staged fingerprint), and the
    survivor token totals — reads it instead of re-running the regex
    split per branch (the r6 bench regression: persist-release hygiene
    had exposed that both verdict branches re-scanned and re-tokenized
    `documents`; the r8 profile showed the remaining 1.9 s of the 2.6 s
    total was the per-run tokenize itself).
    """
    from ..operators.curation import ccnet_buckets_from
    from ..operators.text import gopher_keep, staged_tokenized_docs

    # The tokenize-once frame now comes from the staged per-corpus token
    # store (doc_id, lang, source, n_chars, fp, ws) — the tier's root
    # artifact; the content fingerprint is staged alongside, so the
    # pipeline never touches raw text at query time. No persist: the
    # store is a cluster-parallel parquet scan with exactly two consumers
    # (the CCNet bigram explode and the Gopher→dedup→stats chain), and
    # re-scanning twice is cheaper than caching 10M token strings
    # (measured A/B at sf0.1: no-persist 2.53 s vs persist 2.71 s).
    base = staged_tokenized_docs(spark, sf_dir)
    # Gopher is a pure per-row projection — apply it as a narrow filter on
    # the tokenized frame (zero shuffle), not a doc_id verdict join.
    # CCNet's verdict is inherently aggregated over the FULL corpus (the
    # terciles are per-language corpus-wide, so it cannot run on Gopher
    # survivors only) and stays a doc_id join.
    c = (
        ccnet_buckets_from(base, spark=spark, sf_dir=sf_dir)
        .where(F.col("ppl_bucket") != "tail")
        .select("doc_id")
    )
    # The dedup window only needs the TOKEN COUNT downstream, not the
    # arrays — collapse ws to n_toks before the fingerprint exchange so
    # the window shuffles fixed-width rows (ids, counts, the 63-bit fp),
    # never token arrays.
    kept = (
        base.where(gopher_keep(F.col("ws")))
        .select(
            "doc_id",
            "source",
            "n_chars",
            "fp",
            F.size(F.col("ws")).cast("long").alias("n_toks"),
        )
        .join(c, "doc_id")
    )
    # Content fingerprint (per-char polynomial fold, the priciest scalar
    # here) rides the staged token store — paid once at corpus build, not
    # per query (and never re-paid on non-survivors).
    w = Window.partitionBy("fp").orderBy("doc_id")
    surv = (
        kept.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    return (
        surv.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


def _curation_v2_sql() -> str:
    from ..operators.curation import CCNET_PPL_SQL
    from ..operators.text import GOPHER_RULES_SQL

    return rf"""
WITH g AS ({GOPHER_RULES_SQL}),
c AS ({CCNET_PPL_SQL}),
kept AS (
  SELECT d.doc_id, d.source, d.text, d.n_chars
  FROM documents d
  JOIN g ON g.doc_id = d.doc_id AND g.keep
  JOIN c ON c.doc_id = d.doc_id AND c.ppl_bucket <> 'tail'
),
fp AS (
  SELECT doc_id, source, text, n_chars,
         row_number() OVER (PARTITION BY {H.char_hash_sql('text')}
                            ORDER BY doc_id) AS rn
  FROM kept
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(len(list_filter(str_split_regex(lower(text), '\s+'),
                                     x -> x <> '')) AS BIGINT))
            AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM fp WHERE rn = 1
GROUP BY source
ORDER BY source
"""


CURATION_V2_SQL = _curation_v2_sql()
