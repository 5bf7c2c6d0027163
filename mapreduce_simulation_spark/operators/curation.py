"""Corpus-curation operators for the documents table — the training-data
pipeline steps beyond dedup/quality already covered by operators/text.py
and operators/dedup.py:

  decontaminate      benchmark-overlap detection (n-gram collision against a
                     held-out set) — the step every pretraining pipeline runs
                     before training so eval data doesn't leak into the mix.
  stratified_sample  per-language deterministic quota sampling by content
                     hash — reproducible on any cluster layout.
  corpus_mix         weighted mixture construction: upsample each source by
                     an integer repeat factor (broadcast dim join + row
                     generator), the way training mixtures are assembled.
  repetition_stats   Gopher-style repetition signals (top-token share,
                     duplicate-bigram share) — integer counts so the oracle
                     matches bit-for-bit.
  span_dedup         C4-style span-level exact dedup: global keep-first over
                     8-token chunks, documents reassembled from surviving
                     chunks.

Capability lineage: the reference engine expresses curation only as user
map/reduce executables over text lines (reference worker/__main__.py:167-186
runs arbitrary mappers; tests/testdata/exec/wc_map.py tokenizes); these
operators make the standard curation suite first-class and declarative.

Scale notes are per-operator; the common discipline is the one used across
this package — shuffle on 8-byte hashes or small keys, never on raw text,
and keep the small side of every join broadcastable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import hashing as H
from ..tables import load_table
from ..staging import memoized_plan, read_staged, stage_once, stage_once_dir
from .dedup import _SHINGLES_SQL, _shingles
from .text import bigram_pairs, staged_tokenized_docs, tokens

# Held-out "benchmark" slice: a fixed residue class stands in for the eval
# set a real pipeline would load as its own table.
BENCHMARK_MOD = 97
CONTAM_MIN_SHINGLES = 2

SAMPLE_PER_LANG = 20

MIX_WEIGHT_BUCKETS = 3  # source weight in 1..3, derived from the source name

CHUNK_TOKENS = 8


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus documents that collide with the held-out benchmark set on at
    least CONTAM_MIN_SHINGLES distinct 3-word shingles, with the collision
    count — the docs a curation run would drop (or audit) before training.

    Scale: the benchmark shingle set is tiny relative to the corpus (eval
    suites are MBs, corpora are TBs), so it broadcasts; the corpus-side
    shingle table then joins map-side with no shuffle of corpus data beyond
    the per-doc aggregation on doc_id. Shingle identity is the shared 8-byte
    polynomial hash — raw text never moves.
    """
    from .dedup import staged_shingles

    sh = staged_shingles(spark, sf_dir)
    bench = (
        sh.where(F.col("doc_id") % BENCHMARK_MOD == 0)
        .select("shingle")
        .distinct()
    )
    return (
        sh.where(F.col("doc_id") % BENCHMARK_MOD != 0)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= CONTAM_MIN_SHINGLES)
    )


DECONTAMINATE_SQL = f"""
WITH {_SHINGLES_SQL},
bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCHMARK_MOD} = 0
)
SELECT s.doc_id, count(*) AS n_shared
FROM sh s JOIN bench USING (shingle)
WHERE s.doc_id % {BENCHMARK_MOD} <> 0
GROUP BY s.doc_id
HAVING count(*) >= {CONTAM_MIN_SHINGLES}
"""


# ---------------------------------------------------------------------------
# N-gram novelty scoring (per-doc fraction of n-grams unseen in the
# reference era)
# ---------------------------------------------------------------------------

@memoized_plan
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY against the reference corpus era: for
    each current-era document (odd doc_id — the incremental_dedup /
    feature-drift split), the fraction of its distinct 3-token shingles
    that appear in NO reference-era document (even doc_ids). The standard
    curation signal for ranking a fresh crawl snapshot: near-0 novelty =
    the corpus already covers this document's content (a near-dup the
    hash dedups missed, or boilerplate); near-1 = genuinely new text
    worth its training tokens. Documents with fewer than 3 tokens have no
    shingles and are absent from the output (both engines).

    Reference parity: no novelty surface in the reference engine
    (HaolingPu/MapReduce-Simulation) — LLM-pipeline extension tier.

    Scale: the shape decontaminate CANNOT use — its eval set broadcasts,
    but the reference era here is half the corpus, so this is the
    corpus×corpus case: ONE shuffle hash join on the 8-byte shingle key.
    The reference side is pre-distincted, so every current-era shingle
    row matches at most one reference row — join fan-out is 1 and a hot
    shingle ("the of and") cannot blow up the exchange. Both sides come
    from the staged shingle store (integer columns only — raw text never
    shuffles), and the per-doc aggregation re-uses the join's doc_id
    co-location. novelty is one IEEE division of two exact counts, so
    the DuckDB oracle is an exact value-hash match.
    """
    from .dedup import staged_shingles

    sh = staged_shingles(spark, sf_dir)
    ref = (
        sh.where(F.col("doc_id") % 2 == 0).select("shingle").distinct()
    )
    cur = sh.where(F.col("doc_id") % 2 == 1)
    return (
        cur.join(
            ref.withColumn("seen", F.lit(1)), "shingle", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(
                F.when(F.col("seen").isNull(), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            F.col("n_ngrams").cast("long").alias("n_ngrams"),
            F.col("n_novel").cast("long").alias("n_novel"),
            (
                F.col("n_novel").cast("double")
                / F.col("n_ngrams").cast("double")
            ).alias("novelty"),
        )
    )


NGRAM_NOVELTY_SQL = f"""
WITH {_SHINGLES_SQL},
ref AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_ngrams,
       CAST(sum(CASE WHEN r.shingle IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(sum(CASE WHEN r.shingle IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS novelty
FROM sh s LEFT JOIN ref r USING (shingle)
WHERE s.doc_id % 2 = 1
GROUP BY s.doc_id
"""


# ---------------------------------------------------------------------------
# Stratified deterministic sampling
# ---------------------------------------------------------------------------

def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-quota sample per language: the SAMPLE_PER_LANG documents with
    the smallest content-hash in each lang stratum. Ordering by content hash
    (doc_id tie-break) makes the sample reproducible on any cluster layout
    and any engine — same property as `deterministic_sample`, but with
    per-stratum quotas, which is how balanced eval/validation splits are cut
    from a skewed corpus.

    Scale: one shuffle on lang; the rank filter is a group-limit, which
    Spark pushes below the exchange as a partial top-k per input partition
    (WindowGroupLimit), so the shuffle carries ~quota rows per partition per
    stratum, not the whole corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        H.char_hash(F.col("text")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("sample_rank"))
        .where(F.col("sample_rank") <= SAMPLE_PER_LANG)
    )


STRATIFIED_SAMPLE_SQL = f"""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {H.char_hash_sql('text')} ASC, doc_id ASC
         ) AS sample_rank
  FROM documents
)
SELECT doc_id, lang, sample_rank FROM ranked
WHERE sample_rank <= {SAMPLE_PER_LANG}
"""


# ---------------------------------------------------------------------------
# Weighted mixture construction (upsampling)
# ---------------------------------------------------------------------------

def corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture assembly: each source gets an integer repeat factor
    (1..MIX_WEIGHT_BUCKETS, derived deterministically from the source name —
    standing in for the curated weights table a real run would supply) and
    every document is emitted `weight` times with a copy index, so the
    downstream shuffle-and-train sees the upsampled mixture.

    Scale: the weights dim is one row per source — broadcast; the explode is
    a narrow generator (no shuffle), so the whole operator is scan-bound.
    """
    docs = load_table(spark, sf_dir, "documents")
    weights = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            (H.char_hash(F.col("source")) % MIX_WEIGHT_BUCKETS + 1).alias("weight"),
        )
    )
    return (
        docs.join(F.broadcast(weights), "source")
        .select(
            "doc_id",
            "source",
            "weight",
            F.explode(F.sequence(F.lit(1), F.col("weight"))).alias("copy_idx"),
        )
    )


CORPUS_MIX_SQL = f"""
WITH w AS (
  SELECT source,
         {H.char_hash_sql('source')} % {MIX_WEIGHT_BUCKETS} + 1 AS weight
  FROM (SELECT DISTINCT source FROM documents)
)
SELECT d.doc_id, d.source, w.weight,
       unnest(generate_series(1, w.weight)) AS copy_idx
FROM documents d JOIN w USING (source)
"""


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality rules)
# ---------------------------------------------------------------------------

def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals: total tokens, occurrences of the
    most frequent token, bigram occurrences and how many of those are
    repeats of an already-seen bigram — the integer numerators/denominators
    of the Gopher repetition rules ("most common word > 20% of doc",
    "duplicate 2-grams > 20%"), kept as exact counts so the oracle hash
    matches; the keep flag applies both rules in integer arithmetic.

    Scale: every signal is an array expression over ONE row's token list —
    the whole operator is a narrow projection over the scan, zero
    shuffles, zero windows (the gopher_quality_rules discipline; the
    earlier explode + two-level aggregate + lead-window + join shape paid
    three exchanges for per-row arithmetic). The top-token count is
    O(L·D) per document, the documented trade for staying shuffle-free.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = tokens(F.col("text"))
    bigs = F.zip_with(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
        F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    top_n = F.array_max(
        F.transform(
            F.array_distinct(ws),
            lambda w: F.size(F.filter(ws, lambda x: x == w)),
        )
    ).cast("long")
    n_tokens = F.size(ws).cast("long")
    n_bigrams = F.size(bigs).cast("long")
    n_dup = (F.size(bigs) - F.size(F.array_distinct(bigs))).cast("long")
    return (
        docs.where(F.size(ws) > 0)  # oracle's unnest drops empty docs
        .select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            top_n.alias("top_token_n"),
            n_bigrams.alias("n_bigrams"),
            n_dup.alias("n_dup_bigrams"),
            (
                (top_n * 5 <= n_tokens) & (n_dup * 5 <= n_bigrams)
            ).alias("keep"),
        )
    )


REPETITION_STATS_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(str_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS word,
         generate_subscripts(list_filter(str_split_regex(lower(text), '\s+'),
                                         x -> x <> ''), 1) AS pos
  FROM documents
),
wc AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word),
per_doc AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS top_token_n
  FROM wc GROUP BY doc_id
),
big AS (
  SELECT doc_id,
         count(nxt) AS n_bigrams,
         count(DISTINCT CASE WHEN nxt IS NOT NULL
                             THEN word || ' ' || nxt END) AS n_uniq_bigrams
  FROM (
    SELECT doc_id, word,
           lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
    FROM tok
  ) GROUP BY doc_id
)
SELECT p.doc_id, p.n_tokens, p.top_token_n,
       coalesce(b.n_bigrams, 0) AS n_bigrams,
       coalesce(b.n_bigrams - b.n_uniq_bigrams, 0) AS n_dup_bigrams,
       (p.top_token_n * 5 <= p.n_tokens
        AND coalesce(b.n_bigrams - b.n_uniq_bigrams, 0) * 5
            <= coalesce(b.n_bigrams, 0)) AS keep
FROM per_doc p LEFT JOIN big b USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Span-level exact dedup (C4-style)
# ---------------------------------------------------------------------------

def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global keep-first dedup of CHUNK_TOKENS-token spans: every document
    is cut into consecutive 8-token chunks, each chunk survives only at its
    first occurrence corpus-wide (ordered by doc_id, then position), and
    documents are reassembled from their surviving chunks — the C4 recipe
    for removing boilerplate repeated across pages, at span rather than
    document granularity.

    Scale: the only shuffle keys on the chunk string's first occurrence
    (window over chunk); at 100 TB the chunk column would be its 8-byte
    hash with the text carried only on the surviving row — here chunks are
    short enough that the direct form keeps the oracle exact without a
    second join.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    n_chunks = F.floor(((n - 1) / CHUNK_TOKENS)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks),
        lambda i: F.array_join(
            F.slice(toks, i * CHUNK_TOKENS + 1, CHUNK_TOKENS), " "
        ),
    )
    ch = docs.where(n > 0).select(
        "doc_id", F.posexplode(chunks).alias("chunk_pos", "chunk")
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_pos")
    flagged = ch.select(
        "doc_id", "chunk_pos", "chunk", F.row_number().over(w).alias("rn")
    )
    kept_structs = F.array_sort(
        F.collect_list(
            F.when(F.col("rn") == 1, F.struct("chunk_pos", "chunk"))
        )
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.array_join(
            F.transform(kept_structs, lambda s: s.getField("chunk")), " "
        ).alias("dedup_text"),
    )


SPAN_DEDUP_SQL = rf"""
WITH tokd AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
),
ch0 AS (
  SELECT doc_id, tk,
         unnest(generate_series(0, (len(tk) - 1) // {CHUNK_TOKENS})) AS chunk_pos
  FROM tokd WHERE len(tk) > 0
),
ch AS (
  SELECT doc_id, chunk_pos,
         array_to_string(
           tk[chunk_pos * {CHUNK_TOKENS} + 1 : chunk_pos * {CHUNK_TOKENS}
              + {CHUNK_TOKENS}], ' ') AS chunk
  FROM ch0
),
flagged AS (
  SELECT doc_id, chunk_pos, chunk,
         row_number() OVER (PARTITION BY chunk
                            ORDER BY doc_id, chunk_pos) AS rn
  FROM ch
)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
                           ORDER BY chunk_pos), '') AS dedup_text
FROM flagged
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Pseudonymization (privacy step: stable opaque keys, analytics preserved)
# ---------------------------------------------------------------------------

def pseudonymize_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing that keeps analytic joinability: customer names are
    replaced by sha256 digests (stable → joins/group-bys still line up
    across tables and runs; opaque → the original string never leaves the
    scan). In production the digest is keyed (HMAC with a rotated secret) —
    the plan is identical, only the key literal changes. Narrow map, zero
    shuffle beyond the declared ordering; sha256 is JVM-side codegen.
    """
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.select(
            "c_custkey",
            F.sha2(F.col("c_name").cast("binary"), 256).alias("name_token"),
            "c_nationkey",
            "c_mktsegment",
            "c_acctbal",
        )
        .orderBy("c_custkey")
    )


PSEUDONYMIZE_SQL = """
SELECT c_custkey,
       sha256(c_name) AS name_token,
       c_nationkey, c_mktsegment, c_acctbal
FROM customer
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# PII redaction (scrub free text before it enters a training corpus)
# ---------------------------------------------------------------------------

# Patterns restricted to the Java-regex ∩ RE2 common dialect (no lookaround,
# no backreferences) so Spark and the DuckDB oracle match identically.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# The synthetic corpus contains no organic PII, so the operator first
# enriches each document with deterministic doc_id-derived contact lines —
# both engines apply the identical enrichment (the column expression below
# and the SQL in PII_SCRUB_SQL must stay in lockstep), keeping the oracle
# exact while exercising every redaction class on every row.
def _pii_enriched(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call 555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
        ).alias("text"),
    )


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails, phone numbers, and IPv4 addresses from document text,
    reporting per-class counts and a residual check.

    A training-data pipeline scrubs PII *before* dedup/packing so redaction
    tokens participate in fingerprints consistently. Everything here is
    JVM-side codegen (regexp_replace / regexp_extract_all) — a narrow map
    over the scan with zero shuffle beyond the declared ordering, so at
    100 TB it is scan-bound and embarrassingly parallel. The `residual_pii`
    column re-applies the detectors to the scrubbed text: a nonzero value
    is an audit failure, computed in the same pass.
    """
    enriched = _pii_enriched(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )

    def _count(col, pat):
        return F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))

    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ),
        PII_IP_RE,
        "<IP>",
    )
    return (
        enriched.select(
            "doc_id",
            _count(F.col("text"), PII_EMAIL_RE).alias("n_emails"),
            _count(F.col("text"), PII_PHONE_RE).alias("n_phones"),
            _count(F.col("text"), PII_IP_RE).alias("n_ips"),
            scrubbed.alias("text_scrubbed"),
        )
        .withColumn(
            "residual_pii",
            _count(F.col("text_scrubbed"), PII_EMAIL_RE)
            + _count(F.col("text_scrubbed"), PII_PHONE_RE)
            + _count(F.col("text_scrubbed"), PII_IP_RE),
        )
        .orderBy("doc_id")
    )


PII_SCRUB_SQL = rf"""
WITH enriched AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com call 555-010-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
           AS text
  FROM documents
),
scrub AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT)
           AS n_emails,
         CAST(len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS BIGINT)
           AS n_phones,
         CAST(len(regexp_extract_all(text, '{PII_IP_RE}')) AS BIGINT) AS n_ips,
         regexp_replace(regexp_replace(regexp_replace(
             text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{PII_PHONE_RE}', '<PHONE>', 'g'),
             '{PII_IP_RE}', '<IP>', 'g') AS text_scrubbed
  FROM enriched
)
SELECT doc_id, n_emails, n_phones, n_ips, text_scrubbed,
       CAST(len(regexp_extract_all(text_scrubbed, '{PII_EMAIL_RE}'))
          + len(regexp_extract_all(text_scrubbed, '{PII_PHONE_RE}'))
          + len(regexp_extract_all(text_scrubbed, '{PII_IP_RE}')) AS BIGINT)
         AS residual_pii
FROM scrub
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Bigram language-model counts (n-gram LM table construction)
# ---------------------------------------------------------------------------

LM_MIN_COUNT = 3


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) consecutive-token pairs per document — shared by
    the LM-count construction and the per-document scoring pass. Narrow
    (array-side zip, see text.bigram_pairs): no shuffle, no window."""
    return docs.select(
        "doc_id", F.explode(bigram_pairs(tokens(F.col("text")))).alias("p")
    ).select("doc_id", "p.w1", "p.w2")


def _bigram_lm(docs: DataFrame) -> DataFrame:
    """The corpus bigram LM: (w1, w2, pair_n, prefix_n) for bigrams seen
    ≥ LM_MIN_COUNT times — the ONE definition shared by the LM-table query
    and the perplexity scorer, so the two can never drift."""
    big = _doc_bigrams(docs).select("w1", "w2")
    pair = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_n"))
    prefix = pair.groupBy("w1").agg(F.sum("pair_n").alias("prefix_n"))
    return (
        pair.where(F.col("pair_n") >= LM_MIN_COUNT)
        .join(F.broadcast(prefix), "w1")
        .select("w1", "w2", "pair_n", "prefix_n")
    )


def bigram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram table with MLE conditional probability — the
    construction step of a count-based n-gram LM (and of the perplexity
    filters built on one). Emits (w1, w2, pair_n, prefix_n, p_mle) for
    bigrams seen ≥ LM_MIN_COUNT times; p_mle = pair_n / prefix_n is a ratio
    of small integers, IEEE-exact on both engines.

    Scale: two partial aggregations on token hashes (pair counts, prefix
    counts) + a broadcastable prefix join — shuffle is count rows, never
    text positions. The min-count filter applies before the join, which is
    what keeps the pair table's long tail off the wire.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _bigram_lm(docs).select(
        "w1",
        "w2",
        "pair_n",
        "prefix_n",
        (F.col("pair_n").cast("double") / F.col("prefix_n")).alias("p_mle"),
    )


BIGRAM_LM_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(str_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS w1,
         generate_subscripts(list_filter(str_split_regex(lower(text), '\s+'),
                                         x -> x <> ''), 1) AS pos
  FROM documents
),
big AS (
  SELECT w1, w2 FROM (
    SELECT doc_id, w1,
           lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM tok
  ) WHERE w2 IS NOT NULL
),
pair AS (SELECT w1, w2, count(*) AS pair_n FROM big GROUP BY w1, w2),
prefix AS (SELECT w1, CAST(sum(pair_n) AS BIGINT) AS prefix_n
           FROM pair GROUP BY w1)
SELECT p.w1, p.w2, p.pair_n, x.prefix_n,
       CAST(p.pair_n AS DOUBLE) / x.prefix_n AS p_mle
FROM pair p JOIN prefix x USING (w1)
WHERE p.pair_n >= {LM_MIN_COUNT}
"""


# ---------------------------------------------------------------------------
# Bigram pseudo-perplexity (LM-based quality scoring)
# ---------------------------------------------------------------------------

# Cost assigned to a bigram absent from the (min-count-filtered) LM: a flat
# 20-bit floor, i.e. p_oov = 2^-20. Being an exact integer constant, the OOV
# term stays bit-identical across engines regardless of summation order.
OOV_LOG2_BITS = -20.0


def bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bits-per-bigram under the corpus bigram LM —
    the count-based stand-in for the perplexity filter pretraining
    pipelines run with a real LM (CCNet-style: score every document
    against a reference model, drop the high-perplexity tail). Emits
    (doc_id, n_bigrams, n_oov, avg_bits); avg_bits = -(Σ log2 p_mle +
    OOV_LOG2_BITS·n_oov) / n_bigrams, NULL for docs with < 2 tokens.

    Scale: the LM is rebuilt with the same two count aggregations as
    `bigram_lm_counts` (shuffle = count rows on token pairs), then the doc
    bigram stream left-joins it on (w1, w2) — a hash join whose build side
    is the min-count-filtered LM table (vocabulary-sized, ≪ corpus; at
    sf-test scale AQE broadcasts it) — and collapses to one row per doc on
    the same doc_id partitioning the bigram window already established.
    Nothing wider than token-pair counts ever shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    big = _doc_bigrams(docs)
    # log2 rounded to 6 decimals per LM row, then decimal-accumulated:
    # exact and order-independent across engines (a raw double sum's
    # partial-aggregation order differs between Spark and DuckDB, and the
    # ulp noise can flip the 6-decimal comparison on boundary values —
    # the lm_perplexity_score discipline).
    lm = _bigram_lm(docs).select(
        "w1",
        "w2",
        F.round(
            F.log2(F.col("pair_n").cast("double") / F.col("prefix_n")), 6
        ).alias("log2p"),
    )
    per_doc = (
        big.join(lm, ["w1", "w2"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.count("log2p").alias("n_in_lm"),
            F.sum(F.col("log2p").cast("decimal(18,6)"))
            .cast("double")
            .alias("s_log2p"),
        )
    )
    n_oov = F.col("n_bigrams") - F.col("n_in_lm")
    avg_bits = -(
        F.coalesce(F.col("s_log2p"), F.lit(0.0))
        + F.lit(OOV_LOG2_BITS) * n_oov
    ) / F.col("n_bigrams")
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.coalesce(n_oov, F.lit(0)).alias("n_oov"),
            avg_bits.alias("avg_bits"),
        )
        .orderBy("doc_id")
    )


BIGRAM_PPL_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(str_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS w1,
         generate_subscripts(list_filter(str_split_regex(lower(text), '\s+'),
                                         x -> x <> ''), 1) AS pos
  FROM documents
),
big AS (
  SELECT doc_id, w1, w2 FROM (
    SELECT doc_id, w1,
           lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM tok
  ) WHERE w2 IS NOT NULL
),
pair AS (SELECT w1, w2, count(*) AS pair_n FROM big GROUP BY w1, w2),
prefix AS (SELECT w1, sum(pair_n) AS prefix_n FROM pair GROUP BY w1),
lm AS (
  SELECT p.w1, p.w2,
         round(log2(CAST(p.pair_n AS DOUBLE) / x.prefix_n), 6) AS log2p
  FROM pair p JOIN prefix x USING (w1)
  WHERE p.pair_n >= {LM_MIN_COUNT}
),
per_doc AS (
  SELECT b.doc_id,
         count(*) AS n_bigrams,
         count(l.log2p) AS n_in_lm,
         CAST(sum(CAST(l.log2p AS DECIMAL(18,6))) AS DOUBLE) AS s_log2p
  FROM big b LEFT JOIN lm l ON b.w1 = l.w1 AND b.w2 = l.w2
  GROUP BY b.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_bigrams, 0) AS n_bigrams,
       coalesce(p.n_bigrams - p.n_in_lm, 0) AS n_oov,
       -(coalesce(p.s_log2p, 0.0)
         + ({OOV_LOG2_BITS}) * (p.n_bigrams - p.n_in_lm))
        / p.n_bigrams AS avg_bits
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# Percentile-trimmed corpus (quantile-threshold quality filter)
# ---------------------------------------------------------------------------

def percentile_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop the length-outlier tails: keep documents whose n_chars lies
    within the corpus's exact [p10, p90] — the distribution-relative trim
    pipelines prefer over fixed thresholds (robust to corpus drift). The
    thresholds are a 1-row aggregate crossed back onto the scan (broadcast
    nested loop of a single row — effectively free), so the whole filter is
    one scan + one O(1) join; Spark `percentile` is bit-equal to DuckDB
    `quantile_cont` on this data (see quantiles_summary)."""
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.percentile("n_chars", F.lit(0.1)).alias("lo"),
        F.percentile("n_chars", F.lit(0.9)).alias("hi"),
    )
    return (
        docs.crossJoin(F.broadcast(bounds))
        .where(
            (F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi"))
        )
        .select("doc_id", "lang", "n_chars")
    )


PERCENTILE_TRIM_SQL = """
WITH b AS (
  SELECT quantile_cont(n_chars, 0.1) AS lo,
         quantile_cont(n_chars, 0.9) AS hi
  FROM documents
)
SELECT doc_id, lang, n_chars
FROM documents, b
WHERE n_chars >= b.lo AND n_chars <= b.hi
"""


# ---------------------------------------------------------------------------
# Context-window chunking (tokenize-and-split with overlap)
# ---------------------------------------------------------------------------

WINDOW_TOKENS = 32
WINDOW_STRIDE = 24  # 8-token overlap between consecutive chunks


@memoized_plan
def chunk_for_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into WINDOW_TOKENS-token training windows with
    an 8-token overlap (stride WINDOW_STRIDE) — the tokenize-and-split step
    that turns variable-length documents into model-sized inputs while the
    overlap preserves cross-boundary context. Emits (doc_id, chunk_idx,
    n_tokens, chunk_text); the final short window is kept iff it adds
    tokens beyond the previous window's coverage (start < n).

    Scale: narrow generator over the scan (transform + posexplode), no
    shuffle at all; output size is input × (1 + overlap/stride).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    n_windows = F.greatest(
        F.lit(1),
        F.ceil((n - F.lit(WINDOW_TOKENS)) / F.lit(WINDOW_STRIDE)).cast("int")
        + 1,
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_windows - 1),
        lambda i: F.slice(toks, i * WINDOW_STRIDE + 1, WINDOW_TOKENS),
    )
    return (
        docs.where(n > 0)
        .select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
        .select(
            "doc_id",
            "chunk_idx",
            F.size("chunk").cast("long").alias("n_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
    )


CHUNK_FOR_TRAINING_SQL = rf"""
WITH tokd AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
),
nw AS (
  SELECT doc_id, tk,
         greatest(1, CAST(ceil((len(tk) - {WINDOW_TOKENS})
                               / CAST({WINDOW_STRIDE} AS DOUBLE)) AS INT) + 1)
           AS n_windows
  FROM tokd WHERE len(tk) > 0
),
ch AS (
  SELECT doc_id, tk,
         unnest(generate_series(0, n_windows - 1)) AS chunk_idx
  FROM nw
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(len(tk[chunk_idx * {WINDOW_STRIDE} + 1 :
                   chunk_idx * {WINDOW_STRIDE} + {WINDOW_TOKENS}]) AS BIGINT)
         AS n_tokens,
       array_to_string(tk[chunk_idx * {WINDOW_STRIDE} + 1 :
                          chunk_idx * {WINDOW_STRIDE} + {WINDOW_TOKENS}], ' ')
         AS chunk_text
FROM ch
"""


# ---------------------------------------------------------------------------
# Sequence packing (contiguous bin assignment by cumulative token count)
# ---------------------------------------------------------------------------

PACK_CAPACITY = 512


@memoized_plan
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents (in doc_id order) into fixed-capacity training
    sequences by cumulative token count: doc d goes to sequence
    floor(cumsum_before(d) / PACK_CAPACITY) — the deterministic contiguous
    packing that turns a curated corpus into equal-budget training rows
    without shuffling document order. Emits per-doc assignment plus the
    sequence's fill statistics.

    Scale: the running sum needs a total order, but NOT a single-task sort:
    it runs as the distributed per-shard cumsum
    (operators/ranking.with_distributed_cumsum) — range-shard on doc_id,
    shard-local running sum, carried-in prefix totals from a bounded P-row
    collect — identical arithmetic to the global window, P-way parallel.
    Everything after is a partial agg on seq_id.
    """
    from .ranking import with_distributed_cumsum

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens(F.col("text"))).cast("long")
    with_seq = with_distributed_cumsum(
        docs.select("doc_id", n_tok.alias("n_tokens")),
        [F.asc("doc_id")],
        "n_tokens",
        "_cum_before",
        include_current=False,
    ).select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("_cum_before") / PACK_CAPACITY).alias("seq_id"),
    )
    stats = with_seq.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs_in_seq"),
        F.sum("n_tokens").alias("seq_tokens"),
    )
    return (
        with_seq.join(stats, "seq_id")
        .select("doc_id", "n_tokens", "seq_id", "n_docs_in_seq", "seq_tokens")
    )


SEQUENCE_PACKING_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(str_split_regex(lower(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
seq AS (
  SELECT doc_id, n_tokens,
         CAST(floor(coalesce(sum(n_tokens) OVER (
                 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {PACK_CAPACITY}) AS BIGINT) AS seq_id
  FROM toks
)
SELECT s.doc_id, s.n_tokens, s.seq_id, g.n_docs_in_seq, g.seq_tokens
FROM seq s JOIN (
  SELECT seq_id, count(*) AS n_docs_in_seq,
         CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
  FROM seq GROUP BY seq_id
) g USING (seq_id)
"""


N_EXPORT_SHARDS = 16


def shard_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The export stage of a training pipeline: assign packed sequences to
    fixed output shards (seq_id mod N — round-robin over the dense
    sequence ids, so shards are balanced by construction) and emit the
    per-shard MANIFEST a production writer publishes next to its files:
    sequence/document/token counts, the seq_id range, and an
    order-insensitive content checksum (Σ doc_id·n_tokens mod P — exact
    integer arithmetic, partitioning-independent).

    The physical write is write_training_shards (tested separately): one
    repartition on shard_id so each shard is one writer task producing
    one file — the shape that holds at 100 TB, where a shard is a few GB
    and the manifest is the unit of downstream bookkeeping (loader
    sharding, resumable ingestion, integrity audit). The manifest query
    itself adds ONE partial-aggregable groupBy on top of the packing's
    distributed cumsum — no new total order."""
    packed = sequence_packing(spark, sf_dir)
    with_shard = packed.withColumn(
        "shard_id", F.pmod(F.col("seq_id"), F.lit(N_EXPORT_SHARDS))
    )
    return (
        with_shard.groupBy("shard_id")
        .agg(
            F.countDistinct("seq_id").alias("n_seqs"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("seq_id").alias("first_seq"),
            F.max("seq_id").alias("last_seq"),
            F.pmod(
                F.sum(
                    F.pmod(F.col("doc_id") * F.col("n_tokens"), F.lit(H.P))
                ),
                F.lit(H.P),
            ).alias("checksum"),
        )
        .orderBy("shard_id")
    )


SHARD_MANIFEST_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(str_split_regex(lower(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
seq AS (
  SELECT doc_id, n_tokens,
         CAST(floor(coalesce(sum(n_tokens) OVER (
                 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {PACK_CAPACITY}) AS BIGINT) AS seq_id
  FROM toks
)
SELECT seq_id % {N_EXPORT_SHARDS} AS shard_id,
       count(DISTINCT seq_id) AS n_seqs,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(seq_id) AS first_seq,
       max(seq_id) AS last_seq,
       CAST(sum((doc_id * n_tokens) % {H.P}) % {H.P} AS BIGINT) AS checksum
FROM seq
GROUP BY 1
ORDER BY 1
"""


def write_training_shards(
    packed_docs: DataFrame, out_dir: str
) -> None:
    """Physically export packed documents as one parquet file per shard:
    repartition on shard_id colocates each shard's rows deterministically
    (hash partitioning — two shard_ids can share a partition and some
    tasks may be empty, but no shard ever splits, so the tested
    one-part-file-per-shard invariant holds) + partitionBy(shard_id)
    directory layout. At scale this is the final exchange of the
    pipeline — ≤ N_EXPORT_SHARDS writer tasks, each streaming whole
    shards; no global sort, no driver materialization."""
    with_shard = packed_docs.withColumn(
        "shard_id", F.pmod(F.col("seq_id"), F.lit(N_EXPORT_SHARDS))
    )
    (
        with_shard.repartition(N_EXPORT_SHARDS, "shard_id")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(out_dir)
    )


# Encode only the first N token positions (context-window prefix) so the
# encoded output is bounded per document.
ENCODE_MAX_POS = 32


@memoized_plan
def vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction + token-id encoding — the tokenize-to-ids
    step that turns curated text into model input: build the corpus
    vocabulary ranked by frequency (rank 1 = most frequent; ties broken
    lexicographically), then encode each document's first ENCODE_MAX_POS
    tokens as (doc_id, pos, token_id) rows.

    Scale: the vocabulary is type-count-sized (≪ corpus) — but at web
    scale a vocab still runs to 10⁶⁺ types, so its global frequency
    ranking uses the distributed-rank primitive (range partition +
    per-partition local index + broadcast prefix offsets,
    operators/ranking.py) rather than a partition-less window; the
    token stream is never globally sorted, and the encode join
    broadcasts the id table against the token scan. Output rows are
    exploded (not an array column) so they stay hash-checkable and
    streamable."""
    from .ranking import with_distributed_rank

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    ids = with_distributed_rank(
        vocab, [F.desc("cnt"), F.asc("tok")], "token_id"
    ).select("tok", F.col("token_id").cast("long").alias("token_id"))
    return (
        tok.where(F.col("pos") < ENCODE_MAX_POS)
        .join(F.broadcast(ids), "tok")
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "token_id")
        .orderBy("doc_id", "pos")
    )


VOCAB_ENCODE_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(str_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS tok,
         generate_subscripts(list_filter(str_split_regex(lower(text), '\s+'),
                                         x -> x <> ''), 1) - 1 AS pos
  FROM documents
),
vocab AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
ids AS (
  SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS token_id
  FROM vocab
)
SELECT t.doc_id, CAST(t.pos AS BIGINT) AS pos, i.token_id
FROM tok t JOIN ids i USING (tok)
WHERE t.pos < {ENCODE_MAX_POS}
ORDER BY t.doc_id, t.pos
"""


# ---------------------------------------------------------------------------
# BPE merge learning (train the tokenizer's merge table from the corpus)
# ---------------------------------------------------------------------------

BPE_N_MERGES = 8


# Driver-side type-table cap: BPE learning iterates over the collected
# word-frequency table, so bound what travels to the driver. Natural-
# language type counts grow sublinearly (Heaps' law: ~billions of tokens →
# low millions of types); the cap keeps the most frequent types, which are
# the only ones that can influence early merges. At test SFs the vocabulary
# is far below the cap, so the DuckDB oracle (uncapped) hashes identically.
BPE_TYPE_TABLE_CAP = 2_000_000


def _bpe_learn_driver(
    vocab: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Greedy BPE merge learning over a (word, cnt) type table, pure
    Python: per rank, count adjacent symbol pairs weighted by word
    frequency (overlapping occurrences each count, matching the window
    form's lead() pairing), take the argmax with (pair_n DESC, lhs ASC,
    rhs ASC) tie-break, and merge left-to-right non-overlapping in every
    word. Bit-identical semantics to the distributed window-arithmetic
    twin (_bpe_run) — asserted in tests on adversarial vocabularies."""
    seqs: list[list[str]] = [list(w) for w, _ in vocab]
    cnts = [c for _, c in vocab]
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for s, c in zip(seqs, cnts):
            for i in range(len(s) - 1):
                pair = (s[i], s[i + 1])
                counts[pair] = counts.get(pair, 0) + c
        if not counts:
            break
        (lhs, rhs), pair_n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = lhs + rhs
        merges.append((rank, lhs, rhs, merged, pair_n))
        for idx, s in enumerate(seqs):
            if lhs not in s:
                continue
            out: list[str] = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[idx] = out
    return merges


def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first BPE_N_MERGES byte-pair-encoding merge rules from the
    corpus: repeatedly count adjacent symbol pairs weighted by word
    frequency, merge the most frequent pair (ties broken lexicographically)
    greedily left-to-right in every word, and record (rank, lhs, rhs).

    Completes the tokenizer story next to token_count_bpe (applying a
    pre-tokenizer) and vocab_encode (frequency vocab → ids): this is the
    step that LEARNS the subword vocabulary.

    Scale — this is the PRODUCTION shape: classic BPE trains on the
    word-frequency TYPE table, not the raw corpus. The corpus-scale work
    is ONE distributed token aggregation (map-side combine, word-key
    shuffle); the type table — capped at BPE_TYPE_TABLE_CAP most-frequent
    types via a distributed top-k, a no-op below the cap — is collected
    once and the inherently-sequential merge loop runs driver-side in
    memory, exactly as real tokenizer trainers do. BPE at 32k merges as
    Spark jobs (one argmax job per merge) does not fly; learning on the
    collected type table costs one job total regardless of merge count,
    then APPLYing the learned rules is embarrassingly parallel
    (bpe_apply_merges). The distributed window-arithmetic learner is kept
    as a semantics twin for tests (_bpe_iterate) and proven equivalent on
    adversarial vocabularies.
    """
    docs = load_table(spark, sf_dir, "documents")
    rows = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(BPE_TYPE_TABLE_CAP)
        .collect()
    )
    merges = _bpe_learn_driver(
        [(r["word"], int(r["cnt"])) for r in rows], BPE_N_MERGES
    )
    return spark.createDataFrame(
        merges,
        "merge_rank bigint, lhs string, rhs string, merged string, "
        "pair_n bigint",
    )


def _bpe_iterate(spark: SparkSession, words: DataFrame, n_merges: int) -> DataFrame:
    """The merge-learning loop over a (word, cnt, seq) type table — split out
    so tests can drive it with adversarial vocabularies (repeated-symbol
    runs) against an independent reference implementation."""
    merges, _words = _bpe_run(spark, words, n_merges)
    return merges


def _bpe_merge_step(words: DataFrame, lhs: str, rhs: str) -> DataFrame:
    """Apply ONE known merge rule (lhs, rhs) to a (word, cnt, seq) table —
    the greedy non-overlapping merge as pure window arithmetic: runs of
    consecutive matches (only possible when lhs == rhs) merge at even
    offsets, which is exactly left-to-right greedy semantics. Lazy — no
    action; composable into a fixed-depth plan when the rules are known."""
    wseq = Window.partitionBy("word").orderBy("pos")
    tok = words.select(
        "word", "cnt", F.posexplode(F.split("seq", " ")).alias("pos", "sym")
    )
    pairs = tok.withColumn("r", F.lead("sym", 1).over(wseq))
    m = pairs.withColumn(
        "matched",
        F.coalesce(
            (F.col("sym") == F.lit(lhs)) & (F.col("r") == F.lit(rhs)),
            F.lit(False),
        ),
    )
    wrun = Window.partitionBy("word", "matched").orderBy("pos")
    runs = m.withColumn("runkey", F.col("pos") - F.row_number().over(wrun))
    wrk = Window.partitionBy("word", "matched", "runkey")
    dec = runs.withColumn(
        "do_merge",
        F.col("matched")
        & (((F.col("pos") - F.min("pos").over(wrk)) % 2) == 0),
    )
    out = dec.withColumn(
        "osym",
        F.when(F.col("do_merge"), F.concat("sym", "r")).otherwise(
            F.col("sym")
        ),
    ).withColumn(
        "absorbed", F.coalesce(F.lag("do_merge", 1).over(wseq), F.lit(False))
    )
    return (
        out.where(~F.col("absorbed"))
        .groupBy("word", "cnt")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "osym"))),
                    lambda s: s["osym"],
                ),
                " ",
            ).alias("seq")
        )
    )


def _bpe_run(
    spark: SparkSession, words: DataFrame, n_merges: int
) -> tuple[DataFrame, DataFrame]:
    """Run the DISTRIBUTED BPE learning loop (one argmax job per merge —
    the semantics twin tests drive against the driver-side learner);
    return (merge table, final segmented word table)."""
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        wseq = Window.partitionBy("word").orderBy("pos")
        tok = words.select(
            "word", "cnt", F.posexplode(F.split("seq", " ")).alias("pos", "sym")
        )
        pairs = tok.withColumn("r", F.lead("sym", 1).over(wseq))
        best = (
            pairs.where(F.col("r").isNotNull())
            .groupBy("sym", "r")
            .agg(F.sum("cnt").alias("pair_n"))
            .orderBy(F.desc("pair_n"), F.asc("sym"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        b = best[0]
        merges.append((rank, b.sym, b.r, b.sym + b.r, b.pair_n))
        # per-iteration localCheckpoint keeps the loop's plan linear
        # instead of n_merges-deep nested
        words = _bpe_merge_step(words, b.sym, b.r).localCheckpoint()

    return (
        spark.createDataFrame(
            merges,
            "merge_rank bigint, lhs string, rhs string, merged string, "
            "pair_n bigint",
        ),
        words,
    )


def _bpe_stage_sql(i: int) -> str:
    """One unrolled BPE iteration as DuckDB CTEs (stage i reads words{i},
    emits best{i} and words{i+1}) — the same window arithmetic as the Spark
    loop, so the merge table is bit-identical."""
    return f"""
tok{i} AS (
  SELECT word, cnt,
         unnest(str_split(seq, ' ')) AS sym,
         generate_subscripts(str_split(seq, ' '), 1) AS pos
  FROM words{i}
),
pairs{i} AS (
  SELECT word, cnt, pos, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS r
  FROM tok{i}
),
best{i} AS (
  SELECT sym AS lhs, r AS rhs, CAST(sum(cnt) AS BIGINT) AS pair_n
  FROM pairs{i} WHERE r IS NOT NULL
  GROUP BY sym, r
  ORDER BY pair_n DESC, lhs ASC, rhs ASC
  LIMIT 1
),
m{i} AS (
  SELECT p.word, p.cnt, p.pos, p.sym, p.r,
         coalesce(p.sym = b.lhs AND p.r = b.rhs, FALSE) AS matched
  FROM pairs{i} p CROSS JOIN best{i} b
),
runs{i} AS (
  SELECT *, pos - row_number()
                    OVER (PARTITION BY word, matched ORDER BY pos) AS runkey
  FROM m{i}
),
dec{i} AS (
  SELECT *, matched AND ((pos - min(pos)
              OVER (PARTITION BY word, matched, runkey)) % 2 = 0) AS do_merge
  FROM runs{i}
),
out{i} AS (
  SELECT word, cnt, pos,
         CASE WHEN do_merge THEN sym || r ELSE sym END AS osym,
         coalesce(lag(do_merge) OVER (PARTITION BY word ORDER BY pos),
                  FALSE) AS absorbed
  FROM dec{i}
),
words{i + 1} AS (
  SELECT word, cnt, string_agg(osym, ' ' ORDER BY pos) AS seq
  FROM out{i} WHERE NOT absorbed
  GROUP BY word, cnt
)"""


BPE_LEARN_SQL = (
    r"""
WITH words0 AS (
  SELECT word, count(*) AS cnt,
         trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS seq
  FROM (SELECT unnest(list_filter(str_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS word
        FROM documents)
  GROUP BY word
),"""
    + ",".join(_bpe_stage_sql(i) for i in range(BPE_N_MERGES))
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS merge_rank, lhs, rhs,"
        f" lhs || rhs AS merged, pair_n FROM best{i}"
        for i in range(BPE_N_MERGES)
    )
    + "\nORDER BY merge_rank"
)


# ---------------------------------------------------------------------------
# Weighted (probability-proportional-to-size) sampling
# ---------------------------------------------------------------------------

PPS_N_SAMPLES = 100
_PPS_MIX = 2654435761  # Knuth multiplicative constant — fixed shuffle key


def pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sample: ~PPS_N_SAMPLES documents drawn with
    probability proportional to n_chars — the weighted companion to
    deterministic_sample (uniform hash-mod) and stratified_sample
    (per-group quota), completing the corpus-sampling toolkit.

    Scheme: order docs by a fixed multiplicative hash of doc_id (a
    deterministic shuffle — no RNG, so the same rows are drawn on any
    cluster layout), take the running character total, and select every
    document in which the cumulative weight crosses a step boundary
    (step = total_chars // N). All integer arithmetic → the oracle is
    exact; a document heavier than the step is selected once, not
    multiplied (deterministic, and the right semantics for dedup-style
    corpus draws). The running total runs as the distributed per-shard
    cumsum (operators/ranking.with_distributed_cumsum): range-shard on the
    hash order, shard-local window, carried-in prefix totals — no
    single-task global sort.
    """
    from .ranking import with_distributed_cumsum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    keyed = docs.withColumn(
        "hkey", (F.col("doc_id") * F.lit(_PPS_MIX)) % F.lit(1000000007)
    )
    cum = with_distributed_cumsum(
        keyed,
        [F.asc("hkey"), F.asc("doc_id")],
        "n_chars",
        "cum_chars",
        include_current=True,
    )
    step = docs.agg(
        F.greatest(
            F.expr(f"CAST(sum(n_chars) AS BIGINT) DIV {PPS_N_SAMPLES}"),
            F.lit(1).cast("long"),
        ).alias("step")
    )
    return (
        cum.crossJoin(F.broadcast(step))
        .where(
            F.expr("(cum_chars - n_chars) DIV step < cum_chars DIV step")
        )
        .select("doc_id", "source", "n_chars", "cum_chars")
        .orderBy("doc_id")
    )


PPS_SAMPLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         (doc_id * {_PPS_MIX}) % 1000000007 AS hkey
  FROM documents
),
cum AS (
  SELECT doc_id, source, n_chars,
         CAST(sum(n_chars) OVER (ORDER BY hkey, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_chars
  FROM keyed
),
c AS (
  SELECT greatest(CAST(sum(n_chars) AS BIGINT) // {PPS_N_SAMPLES}, 1) AS step
  FROM documents
)
SELECT doc_id, source, n_chars, cum_chars
FROM cum CROSS JOIN c
WHERE (cum_chars - n_chars) // step < cum_chars // step
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Per-domain cap (web-corpus curation: bound any one source's share)
# ---------------------------------------------------------------------------

DOMAIN_CAP = 10


def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep at most DOMAIN_CAP documents per source, chosen by the fixed
    multiplicative-hash order (the same deterministic shuffle key as
    pps_sample) — the per-domain cap every web-scale corpus applies so a
    single crawl domain cannot dominate the training mix (cf. RefinedWeb /
    CCNet-style per-domain limits).

    Scale: ONE hash-partitioned window keyed by source — per-domain ranks
    run in parallel across domains, state per task is one counter. A
    pathologically hot domain concentrates its rows in one partition; the
    lever is pre-filtering by a per-domain count (broadcast the >cap domain
    list) so ranked rows are only shuffled for domains that can exceed the
    cap — the rank itself never needs the full corpus order.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    keyed = docs.withColumn(
        "hkey", (F.col("doc_id") * F.lit(_PPS_MIX)) % F.lit(1000000007)
    )
    w = Window.partitionBy("source").orderBy("hkey", "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= DOMAIN_CAP)
        .select("doc_id", "source", "rk")
        .orderBy("doc_id")
    )


DOMAIN_CAP_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source,
         (doc_id * {_PPS_MIX}) % 1000000007 AS hkey
  FROM documents
),
ranked AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY hkey, doc_id) AS INTEGER) AS rk
  FROM keyed
)
SELECT doc_id, source, rk FROM ranked
WHERE rk <= {DOMAIN_CAP}
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Training-order shuffle: deterministic global permutation + shard labels
# ---------------------------------------------------------------------------

N_TRAIN_SHARDS = 8


@memoized_plan
def training_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document a position in a deterministic pseudo-random
    global order plus a round-robin shard label — the "shuffle the corpus
    before training" step, reproducible on any cluster layout because the
    order is a fixed multiplicative hash, not an RNG.

    Scale: the global position comes from
    operators/ranking.with_distributed_rank — range partition on the hash
    key, per-partition local index, broadcast P-row prefix offsets — so
    there is NO single-task global sort anywhere; round-robin sharding off
    the position then balances both document count and (in expectation)
    bytes per shard.
    """
    from .ranking import with_distributed_rank

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    keyed = docs.withColumn(
        "hkey", (F.col("doc_id") * F.lit(_PPS_MIX)) % F.lit(1000000007)
    )
    ranked = with_distributed_rank(
        keyed, [F.asc("hkey"), F.asc("doc_id")], "pos"
    )
    return (
        ranked.select(
            "doc_id",
            "pos",
            ((F.col("pos") - 1) % N_TRAIN_SHARDS).alias("shard"),
        )
        .orderBy("doc_id")
    )


TRAINING_SHUFFLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         (doc_id * {_PPS_MIX}) % 1000000007 AS hkey
  FROM documents
),
ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY hkey, doc_id) AS BIGINT) AS pos
  FROM keyed
)
SELECT doc_id, pos, (pos - 1) % {N_TRAIN_SHARDS} AS shard
FROM ranked
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (data selection for a target domain)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"


def _staged_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained DSIR bucket weight table (bucket, logw), FIT ONCE per
    (corpus, bucket count, target lang) and served from parquet — the
    importance-weight artifact the DSIR recipe trains offline and applies
    to every shard. logw is the round-6 double of an exact int64-product
    ratio; doubles roundtrip parquet bitwise, so scoring results are
    unchanged."""

    def build() -> DataFrame:
        big = staged_tokenized_docs(spark, sf_dir).select(
            "lang",
            F.explode(bigram_pairs(F.col("ws"))).alias("p"),
        ).select(
            "lang",
            (
                H.char_hash(F.concat_ws(" ", "p.w1", "p.w2")) % DSIR_BUCKETS
            ).alias("bucket"),
        )
        ct = (
            big.where(F.col("lang") == DSIR_TARGET_LANG)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("ct"))
        )
        cr = big.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
        tt = big.where(F.col("lang") == DSIR_TARGET_LANG).agg(
            F.count(F.lit(1)).alias("tt")
        )
        tr = big.agg(F.count(F.lit(1)).alias("tr"))
        return (
            cr.join(ct, "bucket", "left")
            .na.fill({"ct": 0})
            .crossJoin(F.broadcast(tt))
            .crossJoin(F.broadcast(tr))
            .select(
                "bucket",
                F.round(
                    F.log(
                        (
                            (F.col("ct") + F.lit(1))
                            * (F.col("tr") + F.lit(DSIR_BUCKETS))
                        ).cast("double")
                        / (
                            (F.col("cr") + F.lit(1))
                            * (F.col("tt") + F.lit(DSIR_BUCKETS))
                        )
                    ),
                    6,
                ).alias("logw"),
            )
        )

    return stage_once(
        spark,
        "dsir_w_",
        f"{sf_dir}|ws_v1|b{DSIR_BUCKETS}|{DSIR_TARGET_LANG}",
        "w",
        build,
    )


@memoized_plan
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document log importance weight for data selection, in the spirit
    of DSIR (Xie et al. 2023, arXiv:2302.03169): hash every bigram into
    DSIR_BUCKETS buckets, fit add-one-smoothed bucket distributions for
    the target domain (lang = 'en' documents) and the raw corpus, and
    score each document by the sum of per-bigram log probability ratios
    ln(p_target(b) / p_raw(b)). High weight ⇒ the document looks like the
    target domain; sampling ∝ weight is the DSIR selection step.

    Exactness: bucket ids come from the shared cross-engine polynomial
    hash; the ratio is a quotient of exact int64 products, ln is rounded
    to 6 decimals per DISTINCT bucket before any aggregation, and the
    per-doc sum is an order-pinned strict fold over position-sorted terms
    (the lm_perplexity_score discipline).

    Scale: both bucket tables are DSIR_BUCKETS rows — broadcast; the whole
    plan is a narrow map over the corpus plus one per-doc aggregation. No
    join ever shuffles corpus text.
    """
    # The trained weight table is THE model artifact DSIR ships — stage it
    # per (corpus, buckets, target lang) and serve scoring from it. With
    # the weights staged, the bigram-bucket frame has exactly ONE consumer
    # (the scoring join), so the five-branch persist is gone: the query is
    # a single narrow pass (explode → hash → broadcast join) plus the
    # per-doc aggregation.
    wtab = _staged_dsir_weights(spark, sf_dir)
    docs = staged_tokenized_docs(spark, sf_dir)
    big = docs.select(
        "doc_id",
        F.explode(bigram_pairs(F.col("ws"))).alias("p"),
    ).select(
        "doc_id",
        (
            H.char_hash(F.concat_ws(" ", "p.w1", "p.w2")) % DSIR_BUCKETS
        ).alias("bucket"),
    )
    # round-6 grid values sum exactly as LONGS in 1e-6 units (per-doc
    # totals are doc-bounded — overflow-safe at any corpus size); the
    # single decimal division before the double cast reproduces the
    # decimal(18,6) accumulation bit-for-bit.
    terms = big.join(F.broadcast(wtab), "bucket").select(
        "doc_id",
        F.round(F.col("logw") * 1_000_000).cast("long").alias("logw6"),
    )
    return (
        terms.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum("logw6").cast("decimal(38,0)") / F.lit(1_000_000))
            .cast("double")
            .alias("log_weight"),
        )
        .orderBy("doc_id")
    )


DSIR_IMPORTANCE_SQL = rf"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(list_filter(str_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS w1,
         generate_subscripts(list_filter(str_split_regex(lower(text), '\s+'),
                                         x -> x <> ''), 1) AS pos
  FROM documents
),
big AS (
  SELECT doc_id, lang, pos, w1,
         lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
),
big2 AS (
  SELECT doc_id, lang, pos,
         {{bucket_hash}} % {DSIR_BUCKETS} AS bucket
  FROM big WHERE w2 IS NOT NULL
),
ct AS (SELECT bucket, count(*) AS ct FROM big2
       WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket),
cr AS (SELECT bucket, count(*) AS cr FROM big2 GROUP BY bucket),
tt AS (SELECT count(*) AS tt FROM big2 WHERE lang = '{DSIR_TARGET_LANG}'),
tr AS (SELECT count(*) AS tr FROM big2),
wtab AS (
  SELECT cr.bucket,
         round(ln(CAST((coalesce(ct.ct, 0) + 1)
                       * (tr.tr + {DSIR_BUCKETS}) AS DOUBLE)
                  / ((cr.cr + 1) * (tt.tt + {DSIR_BUCKETS}))), 6) AS logw
  FROM cr LEFT JOIN ct ON ct.bucket = cr.bucket
  CROSS JOIN tt CROSS JOIN tr
),
terms AS (
  SELECT b.doc_id, b.pos, w.logw
  FROM big2 b JOIN wtab w ON w.bucket = b.bucket
)
SELECT doc_id,
       count(*) AS n_bigrams,
       CAST(sum(CAST(logw AS DECIMAL(18,6))) AS DOUBLE) AS log_weight
FROM terms
GROUP BY doc_id
ORDER BY doc_id
"""
DSIR_IMPORTANCE_SQL = DSIR_IMPORTANCE_SQL.format(
    bucket_hash=H.char_hash_sql("w1 || ' ' || w2")
)


# ---------------------------------------------------------------------------
# Exact duplicated-substring spans (stride-1, Lee et al. style)
# ---------------------------------------------------------------------------

SUBSTR_K = 16
SPAN_COMBINE = 131  # polynomial base combining token hashes into grams


@memoized_plan
def substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring spans at EVERY token offset — the
    stride-1 exact-substring dedup of Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499), where
    span_dedup is the strided (C4-chunk) approximation: a SUBSTR_K-token
    window is slid over each document one token at a time, windows whose
    hash occurs ≥ 2 times corpus-wide are duplicate evidence, and
    overlapping/adjacent evidence merges into maximal (span_start,
    span_end) intervals per document — the spans a pipeline would excise.

    Plan: per-doc gram hashes are a narrow generator; ONE gram-key
    exchange (8-byte hashes, never text) counts occurrences corpus-wide;
    surviving rows take ONE doc-key exchange for the gaps-and-islands
    interval merge (lag + running sum — the scd2/sessionize pattern).
    Both exchanges are corpus-linear (the declared linear class shared
    with the minhash/LM token exchanges).

    Each token's characters are hashed exactly ONCE (the hash array is
    pinned behind a Generate barrier so Catalyst cannot re-inline it into
    every window reference); per-offset gram hashes are then a polynomial
    fold over K already-hashed longs — O(n·K) long multiply-adds, not
    O(n·K·chars) char re-hashing (measured 7.2 s → ~2 s at sf0.1). The
    100 TB form replaces the per-offset fold with a Rabin-Karp rolling
    update (O(n) amortized); same outputs.
    """
    docs = staged_tokenized_docs(spark, sf_dir)
    toks = F.col("ws")
    hs_expr = F.transform(toks, H.char_hash)
    hd = docs.where(F.size(toks) >= SUBSTR_K).select(
        "doc_id", F.explode(F.array(hs_expr)).alias("hs")
    )
    n = F.size("hs")
    grams_arr = F.transform(
        F.sequence(F.lit(0), n - SUBSTR_K),
        lambda p: F.aggregate(
            F.slice("hs", p + 1, SUBSTR_K),
            F.lit(0).cast("long"),
            lambda acc, h: (acc * SPAN_COMBINE + h) % H.P,
        ),
    )
    g = hd.select("doc_id", F.posexplode(grams_arr).alias("p", "gram"))
    wg = Window.partitionBy("gram")
    cand = g.withColumn("cnt", F.count(F.lit(1)).over(wg)).where(
        F.col("cnt") >= 2
    )
    # Exact verification of the hash evidence: a true duplicate window
    # always matches its gram (no false negatives), but at ~10⁵ grams per
    # 10⁹-sized hash space, birthday collisions DO produce a handful of
    # false positives. Only the candidate rows fetch their actual K-token
    # window (a join back to the per-doc token arrays — candidate-sized,
    # like every verify stage in this package) and must recur verbatim.
    tk_tbl = docs.select("doc_id", toks.alias("tk"))
    wwin = Window.partitionBy("win")
    dup = (
        cand.join(tk_tbl, "doc_id")
        .withColumn(
            "win", F.array_join(F.slice("tk", F.col("p") + 1, SUBSTR_K), " ")
        )
        .withColumn("wcnt", F.count(F.lit(1)).over(wwin))
        .where(F.col("wcnt") >= 2)
        .select("doc_id", "p")
    )
    wd = Window.partitionBy("doc_id").orderBy("p")
    isl = dup.withColumn(
        "new_isl",
        F.when(
            F.col("p")
            > F.coalesce(F.lag("p", 1).over(wd), F.lit(-(10**9)))
            + SUBSTR_K,
            1,
        ).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_isl").over(
            wd.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + SUBSTR_K - 1).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
        .orderBy("doc_id", "span_start")
    )


SUBSTRING_DEDUP_SQL = rf"""
WITH tokd AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
  FROM documents
),
hd AS (
  SELECT doc_id, list_transform(tk, t -> {{tok_hash}}) AS hs
  FROM tokd WHERE len(tk) >= {SUBSTR_K}
),
g AS (
  SELECT doc_id, unnest(range(0, len(hs) - {SUBSTR_K} + 1)) AS p, hs
  FROM hd
),
g2 AS (
  SELECT doc_id, p,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
                                  list_slice(hs, p + 1, p + {SUBSTR_K})),
                     (acc, h) -> (acc * {SPAN_COMBINE} + h) % {H.P}) AS gram
  FROM g
),
cand AS (
  SELECT doc_id, p
  FROM (SELECT doc_id, p,
               count(*) OVER (PARTITION BY gram) AS cnt
        FROM g2)
  WHERE cnt >= 2
),
dup AS (
  SELECT doc_id, p
  FROM (SELECT c.doc_id, c.p,
               count(*) OVER (PARTITION BY
                 array_to_string(list_slice(t.tk, c.p + 1,
                                            c.p + {SUBSTR_K}), ' ')) AS wcnt
        FROM cand c JOIN tokd t ON t.doc_id = c.doc_id)
  WHERE wcnt >= 2
),
isl AS (
  SELECT doc_id, p,
         CASE WHEN p > coalesce(lag(p) OVER (PARTITION BY doc_id
                                             ORDER BY p),
                                -1000000000) + {SUBSTR_K}
              THEN 1 ELSE 0 END AS new_isl
  FROM dup
),
isl2 AS (
  SELECT doc_id, p,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
)
SELECT doc_id,
       CAST(min(p) AS INTEGER) AS span_start,
       CAST(max(p) + {SUBSTR_K - 1} AS INTEGER) AS span_end,
       CAST(max(p) - min(p) + {SUBSTR_K} AS INTEGER) AS span_tokens
FROM isl2
GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""
SUBSTRING_DEDUP_SQL = SUBSTRING_DEDUP_SQL.format(
    tok_hash=H.char_hash_sql("t")
)


# ---------------------------------------------------------------------------
# Temperature sampling (multilingual-style mixture rebalancing)
# ---------------------------------------------------------------------------

TEMP_TARGET = 200  # documents drawn across all sources


def temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling at α = 0.5: per-source quotas
    ∝ n_s^α flatten the source distribution (the standard multilingual /
    multi-corpus rebalancing — small sources are upsampled relative to
    their raw share, cf. the temperature-sampled mixtures of mBERT/mT5
    and UniMax-style corpus balancing), then each source contributes its
    quota by the fixed multiplicative-hash order.

    α is pinned to 0.5 because sqrt is CORRECTLY ROUNDED under IEEE-754
    on both engines — an arbitrary pow(n, α) would inherit libm's 1-ulp
    wobble. The weight normalizer Σ√n_s is an order-pinned fold over the
    source-sorted weight list (20 rows), and quotas are floor(T·w/W) —
    single IEEE divisions, bit-identical cross-engine.

    Scale: the weight/quota table is |sources| rows (broadcast); the only
    corpus-scale work is the per-source rank — hash-partitioned by
    source, the domain_cap_sample shape.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    w = F.sqrt(F.col("n_s").cast("double"))
    weights = counts.select("source", "n_s", w.alias("w"))
    total_w = weights.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("source", "w"))),
                lambda s: s["w"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("total_w")
    )
    quotas = weights.crossJoin(F.broadcast(total_w)).select(
        "source",
        F.floor(
            F.lit(TEMP_TARGET) * F.col("w") / F.col("total_w")
        ).alias("quota"),
    )
    keyed = docs.withColumn(
        "hkey", (F.col("doc_id") * F.lit(_PPS_MIX)) % F.lit(1000000007)
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy("hkey", "doc_id")
    )
    return (
        keyed.withColumn("rk", rk)
        .join(F.broadcast(quotas), "source")
        .where(F.col("rk") <= F.col("quota"))
        .select("doc_id", "source", "quota")
        .orderBy("doc_id")
    )


TEMPERATURE_SAMPLE_SQL = f"""
WITH counts AS (
  SELECT source, count(*) AS n_s FROM documents GROUP BY source
),
weights AS (
  SELECT source, n_s, sqrt(CAST(n_s AS DOUBLE)) AS w FROM counts
),
total AS (
  SELECT list_reduce(list_prepend(0.0, list(w ORDER BY source)),
                     (a, b) -> a + b) AS total_w
  FROM weights
),
quotas AS (
  SELECT source, CAST(floor({TEMP_TARGET} * w / total_w) AS BIGINT) AS quota
  FROM weights CROSS JOIN total
),
keyed AS (
  SELECT doc_id, source,
         (doc_id * {_PPS_MIX}) % 1000000007 AS hkey
  FROM documents
),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY hkey, doc_id) AS rk
  FROM keyed
)
SELECT r.doc_id, r.source, q.quota
FROM ranked r JOIN quotas q ON q.source = r.source
WHERE r.rk <= q.quota
ORDER BY r.doc_id
"""


# ---------------------------------------------------------------------------
# CCNet-style per-language perplexity bucketing
# ---------------------------------------------------------------------------

PPL_BUCKETS = 3  # CCNet's head / middle / tail


@memoized_plan
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's quality banding (Wenzek et al. 2020): score every document
    with a language model trained ON ITS OWN LANGUAGE's slice of the
    corpus, then split each language into equal head/middle/tail
    perplexity terciles. Banding per language is the point — absolute
    perplexities are not comparable across languages, so a global cut
    would misfile entire languages.

    The LM is the add-one bigram model of text.lm_perplexity_score, keyed
    by lang everywhere (c12 per (lang,w1,w2); c1 per (lang,w1); V per
    lang), under the cross-engine exactness discipline: per-term ln
    rounded to 6 decimals, then DECIMAL-accumulated (exact and
    order-free) and divided once — the raw quotient is bit-identical in
    both engines and is emitted UNROUNDED, because re-rounding an
    average of grid values is exactly where the engines' round()
    algorithms can disagree (an avg of round-6 terms lands ON the
    x.xxxxxx5 boundary whenever the term-sum's last digit does — found
    at sf0.1: 67.62737/20 rounded to 3.381368 in Spark's
    BigDecimal-HALF_UP but 3.381369 in DuckDB's scale-multiply).
    Ties banded by (avg_nll, doc_id).

    Scale: the LM tables are per-language type tables (still sublinear in
    corpus); (lang,w1) counts and per-lang V broadcast, the bigram join
    keys on (lang, word pair). The tercile split uses the grouped
    distributed ntile (operators/ranking.py): range partitioning on
    (lang, score) spreads a hot language over many partitions — a plain
    PARTITION BY lang window would put half a web corpus (English) through
    one task — with per-group positions reassembled from the ≤ P + |langs|
    per-(partition, language) totals. No partition-less or hot-group window
    anywhere (asserted in tests/test_plan_shapes.py).

    Documents with fewer than 2 tokens have no bigrams and are dropped, as
    in CCNet (un-scoreable docs are not banded).
    """
    docs = staged_tokenized_docs(spark, sf_dir).select("doc_id", "lang", "ws")
    return ccnet_buckets_from(docs, spark=spark, sf_dir=sf_dir).orderBy(
        "doc_id"
    )


def _staged_ccnet_lm(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The per-language add-one bigram LM (c12, c1, v type tables) of one
    corpus, TRAINED ONCE per (corpus, tokenizer) and served from parquet.

    This mirrors CCNet's actual deployment: the LM is a model artifact
    trained once, then every shard is scored against it — re-deriving the
    type tables per scoring query is the artificial part.  The tables are
    deterministic aggregates (string/long columns — parquet roundtrip is
    bitwise), so banding results are unchanged.  Shared by
    ccnet_perplexity_buckets and curation_pipeline_v2 via
    ``staging.stage_once_dir``.

    The LM is built from staged_tokenized_docs(spark, sf_dir) HERE — not
    from a caller-supplied frame — because the artifact is keyed only by
    (sf_dir, tokenizer): training it from whatever frame a caller passed
    would let a filtered/derived frame silently poison (or wrongly serve)
    the cache shared with every other consumer of the key."""
    import os

    lm = _ccnet_lm_dir(spark, sf_dir)
    return tuple(
        read_staged(spark, os.path.join(lm, t)) for t in ("c12", "c1", "v")
    )


def _ccnet_lm_dir(spark: SparkSession, sf_dir: str) -> str:
    """The staged LM dir of _staged_ccnet_lm, holding c12/, c1/ and v/."""
    import os

    def write(tmp: str) -> None:
        docs = staged_tokenized_docs(spark, sf_dir).select(
            "doc_id", "lang", "ws"
        )
        ws = F.col("ws")
        big = docs.select(
            "lang", F.explode(bigram_pairs(ws)).alias("p")
        ).select("lang", "p.w1", "p.w2")
        tok = docs.select("lang", F.explode(ws).alias("w1"))
        big.groupBy("lang", "w1", "w2").agg(
            F.count(F.lit(1)).alias("c12")
        ).write.mode("overwrite").parquet(os.path.join(tmp, "c12"))
        c1 = tok.groupBy("lang", "w1").agg(F.count(F.lit(1)).alias("c1"))
        c1.write.mode("overwrite").parquet(os.path.join(tmp, "c1"))
        spark.read.parquet(os.path.join(tmp, "c1")).groupBy("lang").agg(
            F.count(F.lit(1)).alias("v")
        ).write.mode("overwrite").parquet(os.path.join(tmp, "v"))

    return stage_once_dir("ccnet_lm_", f"{sf_dir}|ws_v1", "lm", write)


# Ceiling for broadcasting the folded bigram-type NLL table. Bigram TYPE
# counts grow near-linearly with corpus size (Heaps-ish), so "the LM is
# small" stops being true at some scale: an unconditional broadcast would
# eventually OOM the driver/executors. When the staged LM's on-disk c12
# size exceeds this, the nlltab join falls back to a shuffle hash join on
# (lang, w1, w2) — the corpus side shuffles once by the same key it
# already groups on downstream. 256 MB of parquet ≈ well under 2 GB
# deserialized, safe for the 128 GiB local profile and a typical
# multi-GB-executor cluster alike.
NLL_BROADCAST_MAX_BYTES = 256 << 20


def _nll_broadcast(
    spark: SparkSession, sf_dir: str, nlltab: DataFrame
) -> DataFrame:
    """Broadcast ``nlltab`` only while the staged LM artifact is under
    NLL_BROADCAST_MAX_BYTES on disk (a cheap, accurate proxy for its
    deserialized size); above it, return it unhinted so the join plans as
    a shuffle hash join."""
    import os

    c12_dir = os.path.join(_ccnet_lm_dir(spark, sf_dir), "c12")
    size = 0
    for entry in os.scandir(c12_dir):
        if entry.is_file():
            size += entry.stat().st_size
    if size > NLL_BROADCAST_MAX_BYTES:
        return nlltab
    return F.broadcast(nlltab)


def ccnet_buckets_from(
    docs: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet banding from a frame carrying a precomputed ``ws`` token-array
    column — the plan-sharing entry curation_pipeline_v2 uses so the
    corpus is tokenized ONCE per pipeline instead of once per verdict
    branch. Unsorted: the public query adds the ORDER BY.

    The LM type tables come from the per-corpus staged artifact of
    ``sf_dir`` (see _staged_ccnet_lm), so ``docs`` feeds only the bigram
    explode — a single narrow scan, nothing to persist.

    Bigrams are formed ARRAY-SIDE (zip ws with its own tail) — a narrow
    projection, where the earlier posexplode + per-doc lead() window paid
    a corpus-wide shuffle AND sort just to pair each token with its
    neighbor that the array already held adjacently.
    """
    from .ranking import with_distributed_grouped_ntile

    big = docs.select(
        "doc_id", "lang", F.explode(bigram_pairs(F.col("ws"))).alias("p")
    ).select("doc_id", "lang", "p.w1", "p.w2")
    c12, c1, v = _staged_ccnet_lm(spark, sf_dir)
    nll = -F.round(
        F.log(
            (F.col("c12") + F.lit(1)).cast("double")
            / (F.col("c1") + F.col("v"))
        ),
        6,
    )
    # Fold the LM into ONE type-table NLL map keyed by the bigram — the
    # c1/v joins run TYPE-table × type-table (tiny) instead of per corpus
    # bigram token, and the corpus-scale side pays a single broadcast
    # lookup. nll is a round-6 grid value, so it travels as a LONG in
    # 1e-6 units and the per-doc sum is exact long arithmetic (bounded by
    # doc length × max|nll|·1e6 ≪ 2^63 for any document, any corpus);
    # the single decimal division before the double cast reproduces the
    # decimal(18,6)-accumulation result bit-for-bit.
    nll6 = F.round(nll * 1_000_000).cast("long")
    nlltab = (
        c12.join(F.broadcast(c1), ["lang", "w1"])
        .join(F.broadcast(v), "lang")
        .select("lang", "w1", "w2", nll6.alias("nll6"))
    )
    terms = big.join(
        _nll_broadcast(spark, sf_dir, nlltab), ["lang", "w1", "w2"]
    ).select("doc_id", "lang", "nll6")
    scored = terms.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            (F.sum("nll6").cast("decimal(38,0)") / F.lit(1_000_000))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("avg_nll"),
    )
    banded = with_distributed_grouped_ntile(
        scored,
        ["lang"],
        [F.asc("avg_nll"), F.asc("doc_id")],
        PPL_BUCKETS,
        "tercile",
    )
    bucket = (
        F.when(F.col("tercile") == 1, F.lit("head"))
        .when(F.col("tercile") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return banded.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "avg_nll",
        bucket.alias("ppl_bucket"),
    )


CCNET_PPL_SQL = rf"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(list_filter(str_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS w1,
         generate_subscripts(list_filter(str_split_regex(lower(text), '\s+'),
                                         x -> x <> ''), 1) AS pos
  FROM documents
),
big AS (
  SELECT doc_id, lang, pos, w1,
         lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
),
big2 AS (SELECT * FROM big WHERE w2 IS NOT NULL),
c12 AS (SELECT lang, w1, w2, count(*) AS c12 FROM big2 GROUP BY lang, w1, w2),
c1 AS (SELECT lang, w1, count(*) AS c1 FROM tok GROUP BY lang, w1),
v AS (SELECT lang, count(DISTINCT w1) AS v FROM tok GROUP BY lang),
terms AS (
  SELECT b.doc_id, b.lang,
         -round(ln(CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + v.v)), 6) AS nll
  FROM big2 b
  JOIN c12 ON c12.lang = b.lang AND c12.w1 = b.w1 AND c12.w2 = b.w2
  JOIN c1 ON c1.lang = b.lang AND c1.w1 = b.w1
  JOIN v ON v.lang = b.lang
),
scored AS (
  SELECT doc_id, lang,
         count(*) AS n_bigrams,
         CAST(sum(CAST(nll AS DECIMAL(18,6))) AS DOUBLE) / count(*)
           AS avg_nll
  FROM terms
  GROUP BY doc_id, lang
),
banded AS (
  SELECT doc_id, lang, n_bigrams, avg_nll,
         ntile({PPL_BUCKETS}) OVER (PARTITION BY lang
                                    ORDER BY avg_nll, doc_id) AS tercile
  FROM scored
)
SELECT doc_id, lang, n_bigrams, avg_nll,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM banded
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# BPE merge application: the learned subword vocabulary over the corpus
# ---------------------------------------------------------------------------

def _staged_bpe_rules(
    spark: SparkSession, sf_dir: str
) -> list[tuple]:
    """The learned BPE merge rules as a STAGED per-corpus MODEL artifact
    (the _staged_logreg_weights contract): the driver-side learner runs
    once per corpus over the capped type table, the (rank, lhs, rhs)
    rule list is written to parquet, and every later apply call reads the
    BPE_N_MERGES-row table back — a tokenizer trains once and ships its
    merges file; re-learning inside every apply call (the pre-r17 shape)
    re-paid the type-table collect + driver fit per invocation. Strings
    roundtrip parquet exactly, so the staged rules are bit-identical to
    a fresh fit and results are unchanged."""
    from ..tables import load_table

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        type_rows = (
            docs.select(F.explode(tokens(F.col("text"))).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("word"))
            .limit(BPE_TYPE_TABLE_CAP)
            .collect()
        )
        rules = _bpe_learn_driver(
            [(r["word"], int(r["cnt"])) for r in type_rows], BPE_N_MERGES
        )
        return spark.createDataFrame(
            [(rank, lhs, rhs) for rank, lhs, rhs, _m, _n in rules],
            "rank int, lhs string, rhs string",
        ).repartition(1)

    rows = stage_once(
        spark,
        "bpe_rules_",
        f"{sf_dir}|n{BPE_N_MERGES}cap{BPE_TYPE_TABLE_CAP}_v1",
        "rules",
        build,
    ).collect()
    return sorted((int(r.rank), r.lhs, r.rhs) for r in rows)


@memoized_plan
def bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the BPE_N_MERGES learned merge rules to the corpus and report
    the resulting subword vocabulary — token, weighted occurrence count
    (by word frequency), and the number of distinct words containing it.
    The complement of bpe_learn_merges that closes the tokenizer loop:
    learn (sequential, type-table-sized — see the caveat there) → APPLY
    (embarrassingly parallel: merges broadcast as fixed rules, every word
    segmented independently).

    The rules come from the driver-side learner (bpe_learn_merges' one
    collected type table); because they are then KNOWN constants, each
    merge is a pure per-word function and the whole application is ONE
    narrow projection: per rule, a single `aggregate` fold over the
    word's symbol array implements greedy left-to-right non-overlapping
    pairing (carry one pending symbol; emit the merged pair when
    (pending, current) matches), and the BPE_N_MERGES folds nest lazily
    with zero shuffles, zero explodes, zero per-rule jobs. (The previous
    shape ran one localCheckpointed posexplode + 3-window + collect_list
    job PER RULE — 8 shuffle-heavy jobs doing what a scan-side expression
    does; measured 2.2 s → the fold plan is pure map-side.) Every stage
    is |vocab|-sized; at production scale the same fold maps over raw
    text instead.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Serve path (r17): rules come from the staged per-corpus merges file
    # (_staged_bpe_rules — trained once, the tokenizer-ships-its-merges
    # contract), so the apply plan needs the type table exactly ONCE and
    # no tracked persist — which also makes the whole build pure and
    # memoizable (@memoized_plan; the 8 nested fold expressions are
    # ~0.9 s of py4j to construct).
    type_tbl = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rules = _staged_bpe_rules(spark, sf_dir)
    arr = F.filter(F.split("word", ""), lambda c: c != "")
    for _rank, lhs, rhs in rules:
        arr = _bpe_fold_rule(arr, lhs, rhs)
    sub = type_tbl.select("word", "cnt", F.explode(arr).alias("token"))
    return (
        sub.groupBy("token")
        .agg(
            F.sum("cnt").alias("n_occurrences"),
            F.countDistinct("word").alias("n_words"),
        )
        .orderBy("token")
    )


def _bpe_fold_rule(arr: Column, lhs: str, rhs: str) -> Column:
    """One known merge rule applied to a symbol array as a single
    `aggregate` fold — greedy left-to-right non-overlapping semantics via
    a carried pending symbol: (pend, x) merges when pend == lhs and
    x == rhs, otherwise pend is emitted and x becomes pending. Runs of a
    self-pair (lhs == rhs) therefore merge at even offsets, exactly the
    window formulation's contract (_bpe_merge_step, kept for the
    distributed learning twin)."""
    merged = lhs + rhs
    out_t = "array<string>"

    def step(acc, x):
        return (
            F.when(
                acc["pend"].isNull(),
                F.struct(acc["out"].alias("out"), x.alias("pend")),
            )
            .when(
                (acc["pend"] == lhs) & (x == rhs),
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(merged))).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
                    x.alias("pend"),
                )
            )
        )

    return F.aggregate(
        arr,
        F.struct(
            F.array().cast(out_t).alias("out"),
            F.lit(None).cast("string").alias("pend"),
        ),
        step,
        lambda acc: F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        ),
    )


BPE_APPLY_SQL = (
    r"""
WITH words0 AS (
  SELECT word, count(*) AS cnt,
         trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS seq
  FROM (SELECT unnest(list_filter(str_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS word
        FROM documents)
  GROUP BY word
),"""
    + ",".join(_bpe_stage_sql(i) for i in range(BPE_N_MERGES))
    + f"""
SELECT sym AS token,
       CAST(sum(cnt) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT word) AS BIGINT) AS n_words
FROM (
  SELECT word, cnt, unnest(str_split(seq, ' ')) AS sym
  FROM words{BPE_N_MERGES}
)
GROUP BY sym
ORDER BY token
"""
)


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC)
# ---------------------------------------------------------------------------

CDC_DIVISOR = 8  # boundary when token-hash % 8 == 0 → ~8-token chunks


@memoized_plan
def cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking over token streams (the rsync/FastCDC
    boundary idea applied to corpus dedup): a token whose polynomial
    hash ≡ 0 (mod CDC_DIVISOR) ENDS a chunk, so boundaries are decided
    by CONTENT, not position — inserting or deleting text shifts only
    the chunks it touches, where span_dedup's fixed-width chunks shift
    every subsequent boundary. The result is the corpus-wide chunk
    duplication profile: per chunk fingerprint, how many times and in
    how many documents it occurs — the candidate table an
    insertion-robust dedup pass would consume.

    Exactness: token hashes and the per-chunk fingerprint are the
    package's shared polynomial folds (functions/hashing.char_hash and
    its DuckDB twin); the fingerprint folds hashes in position order
    (order-pinned, both engines), all in exact modular integer
    arithmetic.

    Scale: the chunk-id assignment is a per-document window (bounded by
    document length, never corpus-wide); the two aggregates key on
    (doc_id, chunk_id) and chunk_fp — both the declared token-exchange
    class, shuffling 8-byte keys only.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _cdc_profile(docs)


def _cdc_profile(docs: DataFrame) -> DataFrame:
    """The chunk-duplication profile for any (doc_id, text) frame —
    split out so tests can drive the insertion-robustness property on
    constructed documents.

    Chunking is ONE aggregate fold over the document's token-hash array:
    the state carries (running chunk fp, running token count, closed
    chunks); a boundary token (hash ≡ 0 mod divisor) is folded into the
    running fp and then closes the chunk; the finisher flushes the
    trailing partial chunk. The hash array is referenced exactly once,
    so the per-token char fold runs once — and the former per-doc
    running-sum window (corpus-wide shuffle + sort) plus the
    (doc_id, chunk_id) collect_list aggregation (second shuffle) vanish:
    everything up to the corpus-wide duplication profile is a narrow
    projection."""
    chunk_t = "array<struct<fp:bigint,n:bigint>>"
    zero = F.lit(0).cast("long")

    def step(acc, h):
        fp2 = (acc["fp"] * 1000003 + h) % H.P
        n2 = acc["n"] + F.lit(1).cast("long")
        closed = F.concat(
            acc["out"], F.array(F.struct(fp2.alias("fp"), n2.alias("n")))
        )
        return F.when(
            h % CDC_DIVISOR == 0,
            F.struct(zero.alias("fp"), zero.alias("n"), closed.alias("out")),
        ).otherwise(
            F.struct(fp2.alias("fp"), n2.alias("n"), acc["out"].alias("out"))
        )

    folded = F.aggregate(
        F.transform(tokens(F.col("text")), lambda w: H.char_hash(w)),
        F.struct(
            zero.alias("fp"),
            zero.alias("n"),
            F.array().cast(chunk_t).alias("out"),
        ),
        step,
        lambda acc: F.when(
            acc["n"] > 0,
            F.concat(
                acc["out"],
                F.array(
                    F.struct(acc["fp"].alias("fp"), acc["n"].alias("n"))
                ),
            ),
        ).otherwise(acc["out"]),
    )
    chunks = docs.select("doc_id", F.explode(folded).alias("c")).select(
        "doc_id",
        F.col("c.n").alias("n_tokens"),
        F.col("c.fp").alias("chunk_fp"),
    )
    return (
        chunks.groupBy("chunk_fp", "n_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("chunk_fp").asc())
    )


CDC_CHUNKING_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(str_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS w,
         generate_subscripts(list_filter(str_split_regex(lower(text), '\s+'),
                                         x -> x <> ''), 1) AS pos
  FROM documents
),
h AS (SELECT doc_id, pos, {H.char_hash_sql('w')} AS h FROM tok),
c AS (
  SELECT doc_id, pos, h,
         coalesce(sum(CASE WHEN h % {CDC_DIVISOR} = 0 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS chunk_id
  FROM h
),
chunks AS (
  SELECT doc_id, chunk_id, count(*) AS n_tokens,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list(h ORDER BY pos)),
                     (a, x) -> (a * 1000003 + x) % {H.P}) AS chunk_fp
  FROM c GROUP BY doc_id, chunk_id
)
SELECT chunk_fp, n_tokens,
       count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs
FROM chunks
GROUP BY chunk_fp, n_tokens
ORDER BY n_occurrences DESC, chunk_fp ASC
"""
