"""Text analysis operators for the documents table (SURVEY.md §7 step 5).

All pure `pyspark.sql.functions` array/string expressions — JVM-side,
whole-stage-codegen, no Python in the hot path. Each operator's arithmetic
is integer or IEEE-deterministic double math so the DuckDB oracle reproduces
values exactly.

Scale notes: every operator here is a narrow map over the scan — no shuffle
at all (per-document computation). At 100 TB these are bandwidth-bound
single-stage jobs; perfect scaling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .caching import persist_tracked

from ..functions.hashing import char_hash
from ..tables import load_table
from ..staging import stage_once
from .planmemo import memoized_plan

# Tiny multilingual stopword marker sets for the language-ID heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "und", "die", "nicht", "das"),
    "fr": ("le", "la", "et", "les", "une"),
    "es": ("el", "los", "que", "una", "para"),
}

# English stopwords for quality scoring (tiny, frozen set).
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

# GPT-2-flavoured pre-tokenizer, simplified to the ASCII classes present in
# the corpus: word pieces, number pieces, punctuation runs (optionally
# space-prefixed). Same regex runs on Java (Spark) and RE2 (DuckDB).
BPE_ISH_PATTERN = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"


def bigram_pairs(ws: Column) -> Column:
    """``array<struct<w1,w2>>`` of consecutive-token pairs, formed
    ARRAY-SIDE by zipping the token array with its own tail — a narrow
    projection. The posexplode + per-doc ``lead()`` window formulation it
    replaces paid a corpus-wide shuffle AND sort just to pair each token
    with the neighbor the array already held adjacently (measured on
    ccnet: 2.5 s → 1.75 s at sf0.1). Docs with < 2 tokens yield an empty
    array (greatest guards the negative slice length)."""
    n1 = F.greatest(F.size(ws) - 1, F.lit(0))
    return F.zip_with(
        F.slice(ws, 1, n1),
        F.slice(ws, 2, n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


def tokens(col: Column) -> Column:
    """Lowercased whitespace tokens, empties dropped — the engine's shared
    tokenizer (same semantics as the wordcount plan)."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda x: x != "")


def staged_tokenized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus stored PRE-TOKENIZED — (doc_id, lang, source, n_chars,
    fp, ws) — built ONCE per (corpus, tokenizer version) through the keyed
    staging contract and served from parquet.

    This is the root artifact of the staged per-corpus tier (PLANS.md):
    production pipelines store pretraining corpora tokenized per snapshot
    and run every curation/scoring pass against the token store, not the
    raw text. The regex tokenize (plus the per-char content-fingerprint
    fold, staged as ``fp`` so exact-dedup consumers never re-read raw
    text) is the single most expensive narrow map in the curation package
    (~1.9 s of curation_pipeline_v2's 2.6 s at sf0.1) and was re-paid by
    every consumer per query.

    Exactness: ``ws`` is exactly ``tokens(text)`` (string arrays roundtrip
    parquet bitwise) and ``fp`` exactly ``char_hash(text)`` (int64), so
    every consumer's DuckDB oracle — which tokenizes the raw text itself —
    is unchanged."""
    # Repartition to cluster parallelism before the write: the narrow
    # build would otherwise inherit the source's split count (ONE file
    # for a small corpus) and every consumer would scan the store
    # serially — token-array parquet pages don't split within a file
    # the way the raw text column's row groups effectively did.
    return stage_once(
        spark,
        "tokdocs_",
        f"{sf_dir}|ws_v1",
        "docs",
        lambda: load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            char_hash(F.col("text")).alias("fp"),
            tokens(F.col("text")).alias("ws"),
        )
        .repartition(spark.sparkContext.defaultParallelism),
    )


@memoized_plan
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document statistics: token/char counts, average token length,
    stopword ratio, unique-token ratio. The building blocks of corpus
    quality filtering."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    n_uniq = F.size(F.array_distinct(toks))
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_tokens = n_tokens.cast("long")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (sum_len.cast("double") / n_tokens).alias("avg_token_len"),
        (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
        (n_uniq.cast("double") / n_tokens).alias("uniq_ratio"),
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score in [0,1]: length saturation + stopword
    presence + lexical diversity. The canonical 'keep/drop' signal of a
    training-data pipeline (cf. C4/Gopher-style heuristics)."""
    stats = text_stats(spark, sf_dir)
    length_term = F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0))
    score = (
        length_term * 0.4
        + F.col("stopword_ratio") * 0.2
        + F.col("uniq_ratio") * 0.4
    )
    return stats.select("doc_id", score.alias("quality"))


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: CJK codepoint presence → zh, else marker
    stopwords → de/fr/es, else en. Output keeps the labelled lang column so
    accuracy is inspectable downstream."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))

    def has_marker(lang: str) -> Column:
        return F.size(F.filter(toks, lambda x: x.isin(*LANG_MARKERS[lang]))) > 0

    pred = (
        F.when(F.col("text").rlike(r"[\x{4E00}-\x{9FFF}]"), "zh")
        .when(has_marker("de"), "de")
        .when(has_marker("fr"), "fr")
        .when(has_marker("es"), "es")
        .otherwise("en")
    )
    return docs.select("doc_id", F.col("lang"), pred.alias("pred_lang"))


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: cross-engine polynomial hash of the full text
    (functions/hashing.py). The dedup-exact key; also a stable content
    address for incremental pipelines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", char_hash(F.col("text")).alias("fingerprint"))


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting under a BPE-ish pre-tokenizer regex — the 'how many
    tokens is this corpus' question, per document and exact-counted."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count(F.lower("text"), F.lit(BPE_ISH_PATTERN))
        .cast("long")
        .alias("bpe_tokens"),
        F.size(tokens(F.col("text"))).cast("long").alias("ws_tokens"),
    )


def tokenizer_fertility_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) tokenizer fertility — the corpus-QA table a
    training pipeline tracks per slice before committing a tokenizer:
    document count, exact char / whitespace-token / BPE-ish-token totals,
    and the derived rates (fertility = BPE tokens per whitespace word;
    chars_per_token = compression), each ONE IEEE division of exact
    bigint sums (div-by-zero guarded to NULL on both engines).

    Reference parity: no text surface in the reference engine
    (HaolingPu/MapReduce-Simulation) — LLM-pipeline extension tier,
    aggregate sibling of token_count_bpe.

    Scale: one corpus scan with all counting inside whole-stage codegen
    (regexp_count + size — no explode, no UDF, the raw text never
    shuffles), then one partial-agg exchange whose payload is
    |lang × source| rows — the shuffle is the group cardinality, not the
    corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        "source",
        F.length("text").cast("long").alias("chars"),
        F.size(tokens(F.col("text"))).cast("long").alias("ws"),
        F.regexp_count(F.lower("text"), F.lit(BPE_ISH_PATTERN))
        .cast("long")
        .alias("bpe"),
    )
    ws_sum = F.sum("ws").cast("long")
    bpe_sum = F.sum("bpe").cast("long")
    chars_sum = F.sum("chars").cast("long")
    return per.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        chars_sum.alias("total_chars"),
        ws_sum.alias("total_ws_tokens"),
        bpe_sum.alias("total_bpe_tokens"),
        F.when(
            ws_sum > 0, bpe_sum.cast("double") / ws_sum.cast("double")
        ).alias("fertility"),
        F.when(
            bpe_sum > 0, chars_sum.cast("double") / bpe_sum.cast("double")
        ).alias("chars_per_token"),
    )


TOKENIZER_FERTILITY_SQL = r"""
WITH per AS (
  SELECT lang, source,
         length(text) AS chars,
         len(list_filter(str_split_regex(lower(text), '\s+'),
             x -> x <> '')) AS ws,
         len(regexp_extract_all(lower(text),
             ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+')) AS bpe
  FROM documents
)
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(chars) AS BIGINT) AS total_chars,
       CAST(sum(ws) AS BIGINT) AS total_ws_tokens,
       CAST(sum(bpe) AS BIGINT) AS total_bpe_tokens,
       CAST(sum(bpe) AS DOUBLE) / CAST(nullif(sum(ws), 0) AS DOUBLE)
         AS fertility,
       CAST(sum(chars) AS DOUBLE) / CAST(nullif(sum(bpe), 0) AS DOUBLE)
         AS chars_per_token
FROM per GROUP BY lang, source
"""


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization — the cleanup pass ahead of tokenize/dedup in a
    curation pipeline: lowercase, strip non-alphanumeric-non-space chars,
    collapse whitespace runs, trim. Pure JVM regex (codegen), one scan, no
    shuffle; emits the cleaned text so the oracle compares actual strings,
    not a proxy hash. Character classes are ASCII-explicit so Java and RE2
    agree."""
    docs = load_table(spark, sf_dir, "documents")
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "),
            r"\s+",
            " ",
        )
    )
    return docs.select("doc_id", cleaned.alias("norm_text"))


TFIDF_TOP_K = 3


@memoized_plan
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 most characteristic terms by tf-idf with a linear
    idf (score = tf · N / df): ln-free so the score is a ratio of small
    integers — bit-identical IEEE division on both engines — where
    ln(N/df)'s last-ulp behavior is libm-dependent and would make rank ties
    engine-specific. Rank ties break on the term string.

    The shape is the classic two-pass: token counts per (doc, term), doc
    frequency per term, broadcast the (small) df table back, rank per doc.
    Scale: tf and df are both map-side partial aggregates on hashed keys;
    df is |vocabulary| rows (≪ corpus, broadcastable — natural-language
    vocabularies grow sublinearly); the rank is a WindowGroupLimit-pushed
    top-k per doc.
    """
    docs = load_table(spark, sf_dir, "documents")
    # n_docs stays IN the plan as a broadcast 1-row aggregate (no eager
    # count() job at build time — that would be a second full corpus scan).
    n_tbl = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql.window import Window

    scored = (
        tf.join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(n_tbl))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.col("tf") * F.col("n_docs") / F.col("df")).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )


TFIDF_TOP_TERMS_SQL = rf"""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(str_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * (SELECT CAST(n_docs AS DOUBLE) FROM n) / df.df AS tfidf
  FROM tf JOIN df USING (term)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rk
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rk FROM ranked WHERE rk <= {TFIDF_TOP_K}
"""


# ---------------------------------------------------------------------------
# Fuzzy entity matching (edit-distance join without a cross join)
# ---------------------------------------------------------------------------

FUZZY_MAX_DIST = 2


@memoized_plan
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All distinct part-name pairs within Levenshtein distance
    FUZZY_MAX_DIST — entity resolution's core primitive, built scale-first:
    candidates come from an inverted bigram index (names sharing at least
    one 2-gram, the dedup_ngram_jaccard pattern), then only candidates pay
    the exact levenshtein. By q-gram pigeonhole, d edits destroy at most
    d*q grams, so any pair with distance ≤ 2 shares a bigram whenever
    len > (d+1)*q - 1 = 5; shorter names take a bounded broadcast path —
    which makes the candidate set COMPLETE: the oracle is the exhaustive
    self-join and must match exactly, proving no pair is lost to pruning.

    Scale: names are a type table (≪ corpus); the bigram join shuffles
    (gram, name) pairs, never the corpus, and a length pre-filter bounds
    the verify set. At 100 TB the same plan applies after a distinct() on
    the name column; hot grams can be count-filtered like the shingle cap
    in dedup_ngram_jaccard.
    """
    names = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    return _fuzzy_pairs(names)


def _fuzzy_pairs(names: DataFrame) -> DataFrame:
    """The candidate-generation + verify core over a distinct (name) table —
    split out so tests can drive it with short-name vocabularies that fall
    outside the bigram pigeonhole guarantee."""
    grams = names.where(F.length("name") > 5).select(
        "name",
        F.explode(
            F.expr("transform(sequence(1, length(name) - 1),"
                   " i -> substring(name, i, 2))")
        ).alias("gram"),
    ).distinct()
    cand = (
        grams.alias("a")
        .join(grams.alias("b"), "gram")
        .where(F.col("a.name") < F.col("b.name"))
        .select(
            F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b")
        )
        .distinct()
    )
    # Names shorter than 6 chars fall outside the pigeonhole guarantee (two
    # edits can destroy every bigram of a 5-char string), so pairs touching
    # a short name take a direct broadcast path instead: the short-name set
    # is bounded by the alphabet (finitely many strings ≤ 5 chars exist,
    # and a type table holds each once), so the "cross" side stays tiny at
    # any corpus size. Empty on TPC-H p_name; exists so completeness is a
    # property of the plan, not of the data.
    short = names.where(F.length("name") <= 5)
    short_cand = (
        F.broadcast(short.select(F.col("name").alias("s_name")))
        .crossJoin(names)
        .where(F.col("s_name") != F.col("name"))
        .select(
            F.least("s_name", "name").alias("name_a"),
            F.greatest("s_name", "name").alias("name_b"),
        )
        .distinct()
    )
    return (
        cand.unionByName(short_cand)
        .distinct()
        .where(
            F.abs(F.length("name_a") - F.length("name_b")) <= FUZZY_MAX_DIST
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .where(F.col("dist") <= FUZZY_MAX_DIST)
        .orderBy("name_a", "name_b")
    )


FUZZY_NAME_PAIRS_SQL = f"""
WITH names AS (SELECT DISTINCT p_name AS name FROM part)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
FROM names a JOIN names b ON a.name < b.name
WHERE levenshtein(a.name, b.name) <= {FUZZY_MAX_DIST}
ORDER BY name_a, name_b
"""

def entity_resolution_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full entity-resolution DAG as one query — blocking → verify →
    cluster → canonicalize, the composition ER deployments actually run
    (the reference could only chain these as separate map/reduce jobs):

      1. candidate blocking + exact verify: _fuzzy_pairs (inverted bigram
         index, pigeonhole-complete, exact levenshtein on candidates);
      2. transitive clustering: alternating large-star/small-star
         contraction (_cc_star_labels — O(log² n) rounds, so a name chain
         of ANY diameter converges; min-label propagation needs
         O(diameter) rounds and a 20-round cap raised RuntimeError on
         long chains, the r11 advice fix) over the verified-pair graph.
         Labels are the NAMES themselves — lexicographic min is the
         deterministic canonical rule (both engines compare binary
         UTF-8), and the star fixpoint equals the propagation fixpoint,
         so the same recursive-CTE oracle applies;
      3. canonicalization: every name mapped to its cluster's
         lexicographically-least member; singletons map to themselves.

    Output (name, canonical, cluster_size) — oracle is the exhaustive
    pair join + a recursive-CTE reachability closure (the dedup_cc oracle
    pattern on strings).

    Scale: names are a type table (≪ corpus) and the edge list is the
    verified near-match graph — both orders of magnitude below corpus
    size, so the contraction loop shuffles match-graph-sized frames;
    the corpus-scale stage is the blocking join, which shuffles (gram,
    name) pairs exactly like dedup_ngram_jaccard. Each round is
    localCheckpoint-truncated like the doc CC loop."""
    from .dedup import _cc_star_labels

    names = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    pairs = _fuzzy_pairs(names).select("name_a", "name_b")
    comps = _cc_star_labels(
        names.select(F.col("name").alias("doc_id")),
        pairs.select(
            F.col("name_a").alias("doc_a"), F.col("name_b").alias("doc_b")
        ),
    ).select(F.col("doc_id").alias("name"), "comp")
    sizes = comps.groupBy("comp").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        comps.join(sizes, "comp")
        .select(
            "name",
            F.col("comp").alias("canonical"),
            "cluster_size",
        )
        .orderBy("name")
    )


ENTITY_RESOLUTION_SQL = f"""
WITH RECURSIVE names AS (SELECT DISTINCT p_name AS name FROM part),
pairs AS (
  SELECT a.name AS name_a, b.name AS name_b
  FROM names a JOIN names b ON a.name < b.name
  WHERE levenshtein(a.name, b.name) <= {FUZZY_MAX_DIST}
),
edges AS (
  SELECT name_a AS src, name_b AS dst FROM pairs
  UNION
  SELECT name_b, name_a FROM pairs
),
reach(name, r) AS (
  SELECT name, name FROM names
  UNION
  SELECT reach.name, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
comps AS (SELECT name, min(r) AS canonical FROM reach GROUP BY name)
SELECT c.name, c.canonical, s.cluster_size
FROM comps c
JOIN (SELECT canonical, count(*) AS cluster_size
      FROM comps GROUP BY canonical) s USING (canonical)
ORDER BY c.name
"""


# ---------------------------------------------------------------------------
# Count-Min sketch (mergeable frequency estimation, exactly reproducible)
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 512


def cms_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the corpus word stream, then every word's
    estimate next to its true count — the mergeable-sketch frequency
    primitive (heavy_hitters_sketch is the Misra-Gries companion; HLL
    covers distinct counts).

    The sketch is linear, so building it from the word-count type table
    (counter[i][h_i(w)] += count(w)) is bit-identical to streaming every
    token through it — the build is therefore one type-table pass, and at
    100 TB the d×w counter grid (4×512 longs here) is the only state:
    partial grids from any partitioning merge by addition, which is the
    whole point of the structure. Hash family = the engine's shared
    polynomial hash composed with the frozen MinHash (A,B) pairs, so both
    engines place every word in the same buckets and even the
    collision-inflated estimates hash-match exactly. est_n >= true_n
    always (one-sided error); the property test pins the classic ε-bound.
    """
    from ..functions.hashing import MINHASH_PERMS, P, char_hash, char_hash_sql  # noqa: F401

    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .withColumn("h", char_hash(F.col("word")))
    )
    rows = None
    for i in range(CMS_DEPTH):
        a, b = MINHASH_PERMS[i]
        r = wc.select(
            "word",
            "true_n",
            F.lit(i).alias("row"),
            (((F.col("h") * a + b) % P) % CMS_WIDTH).alias("bucket"),
        )
        rows = r if rows is None else rows.unionByName(r)
    counters = rows.groupBy("row", "bucket").agg(
        F.sum("true_n").alias("counter")
    )
    return (
        rows.join(counters, ["row", "bucket"])
        .groupBy("word")
        .agg(
            F.min("counter").alias("est_n"),
            F.first("true_n").alias("true_n"),
        )
        .select("word", "true_n", "est_n")
        .orderBy("word")
    )


def _cms_rows_sql() -> str:
    from ..functions.hashing import MINHASH_PERMS, P

    parts = []
    for i in range(CMS_DEPTH):
        a, b = MINHASH_PERMS[i]
        parts.append(
            f"SELECT word, true_n, {i} AS row,"
            f" ((h * {a} + {b}) % {P}) % {CMS_WIDTH} AS bucket FROM wc"
        )
    return "\nUNION ALL\n".join(parts)


def _build_cms_sql() -> str:
    from ..functions.hashing import char_hash_sql

    return rf"""
WITH tok AS (
  SELECT unnest(list_filter(str_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
wc AS (
  SELECT word, CAST(count(*) AS BIGINT) AS true_n,
         {char_hash_sql('word')} AS h
  FROM tok GROUP BY word
),
rows AS (
{_cms_rows_sql()}
),
counters AS (
  SELECT row, bucket, CAST(sum(true_n) AS BIGINT) AS counter
  FROM rows GROUP BY row, bucket
)
SELECT r.word, r.true_n, CAST(min(c.counter) AS BIGINT) AS est_n
FROM rows r JOIN counters c USING (row, bucket)
GROUP BY r.word, r.true_n
ORDER BY r.word
"""


CMS_WORD_FREQ_SQL = _build_cms_sql()


# ---------------------------------------------------------------------------
# Bigram-LM perplexity scoring (CCNet-style corpus quality filter)
# ---------------------------------------------------------------------------

@memoized_plan
def lm_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-likelihood under an add-one-
    smoothed bigram language model trained on the corpus itself — the
    LM-based quality filter (CCNet / Wikipedia-LM style) that catches
    gibberish surface heuristics miss: p(w2|w1) = (c12 + 1) / (c1 + V).
    Lower avg_nll ⇒ more fluent under the corpus LM. (Perplexity is
    exp(avg_nll) — monotone, so the score is reported in nll space and
    the libm `exp` divergence risk is avoided.)

    Deliberate sibling of curation.bigram_perplexity, which scores MLE
    probabilities with a min-count LM and a fixed OOV bit floor: Laplace
    smoothing needs no OOV branch (every bigram gets mass), at the cost
    of carrying V into every term — the two ends of the standard
    smoothing trade, and a second, stricter summation discipline (see
    below) for the float-exactness story.

    Cross-engine exactness discipline (the tfidf comment explains why ln
    is normally banned here): ln is applied to a ratio of small integers
    and ROUNDED TO 6 DECIMALS per term before any aggregation — a 1-ulp
    libm disagreement between Java's Math.log and DuckDB's ln flips a
    round-6 value only when the true ln sits within ~1e-16 of a rounding
    boundary. The round-6 terms are then DECIMAL-accumulated (exact and
    order-independent) and divided once; the raw quotient is emitted
    UNROUNDED — re-rounding an average of grid values is where the
    engines' round() algorithms genuinely disagree (an avg of round-6
    terms sits exactly ON the x.xxxxxx5 boundary whenever the term-sum's
    last digit pattern divides that way; observed at sf0.1 in the ccnet
    twin: 67.62737/20 → Spark 3.381368, DuckDB 3.381369).

    Scale (r8 form): the LM tables are type tables (|vocab| and |bigram
    types|, sublinear in corpus) DERIVED from the staged per-language
    CCNet LM by per-lang summation — no corpus-scale LM-training exchange
    at query time; the corpus-scale bigram side pays one broadcast lookup
    against the folded (w1, w2) → nll6 map.
    """
    # Bigrams are formed ARRAY-SIDE (zip the token array with its own
    # tail — the ccnet_buckets_from shape): a narrow projection where the
    # earlier posexplode + per-doc lead() window paid a corpus-wide
    # shuffle AND sort. Tokens come from the staged per-corpus token
    # store (tokenize-once tier); its cluster-parallel parquet scan has
    # two consumers here (bigrams and unigrams) and re-scanning beats
    # caching the token arrays — no persist.
    base = staged_tokenized_docs(spark, sf_dir).select("doc_id", "ws")
    ws = F.col("ws")
    big = base.select(
        "doc_id", F.explode(bigram_pairs(ws)).alias("p")
    ).select("doc_id", "p.w1", "p.w2")
    # The GLOBAL LM derives from the staged per-language CCNet tables by
    # type-table aggregation — every doc has exactly one lang, so the
    # global bigram/unigram counts are the per-lang sums and V is the
    # distinct-w1 row count of the folded unigram table. This removes the
    # query-time corpus-bigram exchange (the LM train) entirely; only the
    # scoring explode and the per-doc aggregation remain corpus-scale.
    # Local import: curation imports this module (cycle-safe at call time).
    from .curation import _staged_ccnet_lm

    lc12, lc1, _lv = _staged_ccnet_lm(spark, sf_dir)
    c12 = lc12.groupBy("w1", "w2").agg(F.sum("c12").alias("c12"))
    # c1 feeds two consumers (the V count and the nll join) but is a
    # type-table aggregate over the STAGED per-lang LM — re-deriving it
    # twice is two scans of a vocab-sized parquet, cheaper than a tracked
    # persist (A/B r17: warm 1.20 -> 0.93 s with the persist dropped and
    # the now-pure build memoized; identical rows, verify_local OK).
    c1 = lc1.groupBy("w1").agg(F.sum("c1").alias("c1"))
    v = c1.agg(F.count(F.lit(1)).alias("v"))
    nll = -F.round(
        F.log(
            (F.col("c12") + F.lit(1)).cast("double")
            / (F.col("c1") + F.col("v"))
        ),
        6,
    )
    # One broadcast NLL map (type-table × type-table build) and long
    # 1e-6-unit summation — the ccnet_buckets_from shape: per-doc sums
    # are doc-bounded long arithmetic, and the single decimal division
    # before the double cast reproduces the decimal(18,6) accumulation
    # bit-for-bit.
    nll6 = F.round(nll * 1_000_000).cast("long")
    nlltab = (
        c12.join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(v))
        .select("w1", "w2", nll6.alias("nll6"))
    )
    # Size-gated broadcast (see curation.NLL_BROADCAST_MAX_BYTES): bigram
    # TYPE counts grow near-linearly with corpus size, so past the staged
    # LM size ceiling the lookup falls back to a shuffle hash join.
    from .curation import _nll_broadcast

    terms = big.join(
        _nll_broadcast(spark, sf_dir, nlltab), ["w1", "w2"]
    ).select("doc_id", "nll6")
    return (
        terms.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                (F.sum("nll6").cast("decimal(38,0)") / F.lit(1_000_000))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


LM_PERPLEXITY_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(str_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS w1,
         generate_subscripts(list_filter(str_split_regex(lower(text), '\s+'),
                                         x -> x <> ''), 1) AS pos
  FROM documents
),
big AS (
  SELECT doc_id, pos, w1,
         lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
),
big2 AS (SELECT * FROM big WHERE w2 IS NOT NULL),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM big2 GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM tok GROUP BY w1),
v AS (SELECT count(DISTINCT w1) AS v FROM tok),
terms AS (
  SELECT b.doc_id, b.pos,
         -round(ln(CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + v.v)), 6) AS nll
  FROM big2 b
  JOIN c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
  JOIN c1 ON c1.w1 = b.w1
  CROSS JOIN v
)
SELECT doc_id,
       count(*) AS n_bigrams,
       CAST(sum(CAST(nll AS DECIMAL(18,6))) AS DOUBLE) / count(*)
         AS avg_nll
FROM terms
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Gopher-style quality rule flags
# ---------------------------------------------------------------------------

# Rae et al. 2021 (Gopher) document-quality rules, thresholds adapted to the
# synthetic corpus (10-99 words/doc) so both tails of every rule exist at
# test scale; the production thresholds are noted per rule.
GOPHER_MIN_WORDS = 20        # Gopher: 50
GOPHER_MAX_WORDS = 90        # Gopher: 100_000
GOPHER_MIN_MEAN_WLEN = 3.0   # Gopher: 3
GOPHER_MAX_MEAN_WLEN = 10.0  # Gopher: 10
GOPHER_MIN_STOPWORDS = 2     # Gopher: ≥2 of a small English stopword set
GOPHER_MAX_TOP_SHARE = 0.10  # Gopher-style repetition cap (top word share)
GOPHER_MIN_ALPHA_FRAC = 0.8  # Gopher: 80% of words contain an alphabetic char


@memoized_plan
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher quality-rule flags plus the conjunction `keep` —
    the rule-based pre-filter every pretraining pipeline runs before the
    model-based ones (quality_score / lm_perplexity_score are this
    engine's model-ish siblings). Each rule is reported individually so a
    curation run can audit WHICH rule dropped a document, not just that
    one did.

    Exactness: word and stopword counts are integers; mean word length and
    top-token share are a single integer division each, rounded to 6
    decimals in both engines before the threshold comparison.

    Scale: every rule is computed with array expressions over the token
    list of one row — the whole operator is a narrow projection over the
    scan, zero shuffles before the declared ORDER BY, embarrassingly
    parallel at any corpus size. The top-token count is O(L·D) per
    document (L tokens × D distinct) in exchange for staying shuffle-free;
    with pathological document lengths the explode + (doc_id, token) agg
    form is the fallback (that exchange is the curation package's declared
    corpus-linear class).
    """
    docs = staged_tokenized_docs(spark, sf_dir).select("doc_id", "ws")
    return gopher_quality_flags(docs).orderBy("doc_id")


def gopher_keep(ws: Column) -> Column:
    """The Gopher keep-conjunction as ONE boolean expression over a token
    array — curation_pipeline_v2 applies it as a narrow scan-side filter
    (zero shuffle), instead of joining the flags frame back on doc_id.
    Identical rule arithmetic to gopher_quality_flags (both call
    _gopher_rules)."""
    return _gopher_rules(ws)["keep"]


def _gopher_rules(ws: Column) -> dict:
    nw = F.size(ws)
    # Zero-token guard: ratios are NULL (not x/0) for empty documents, and
    # the rules below coalesce to false — Spark with ANSI off yields NULL
    # for the division while DuckDB's IEEE mode yields inf/nan, so an
    # unguarded ratio diverges cross-engine on real corpora with empty docs.
    mean_wlen = F.when(
        nw > 0,
        F.round(
            F.aggregate(
                ws, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ).cast("double")
            / nw,
            6,
        ),
    )
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(ws),
            lambda w: F.size(F.filter(ws, lambda x: x == w)),
        )
    )
    top_share = F.when(nw > 0, F.round(top_cnt.cast("double") / nw, 6))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(ws), F.array(*[F.lit(s) for s in STOPWORDS])
        )
    )
    alpha_frac = F.when(
        nw > 0,
        F.round(
            F.size(F.filter(ws, lambda x: x.rlike("[a-z]"))).cast("double")
            / nw,
            6,
        ),
    )
    r_words = (nw >= GOPHER_MIN_WORDS) & (nw <= GOPHER_MAX_WORDS)
    r_wlen = F.coalesce(
        (mean_wlen >= GOPHER_MIN_MEAN_WLEN)
        & (mean_wlen <= GOPHER_MAX_MEAN_WLEN),
        F.lit(False),
    )
    r_stop = n_stop >= GOPHER_MIN_STOPWORDS
    r_rep = F.coalesce(top_share <= GOPHER_MAX_TOP_SHARE, F.lit(False))
    r_alpha = F.coalesce(alpha_frac >= GOPHER_MIN_ALPHA_FRAC, F.lit(False))
    return {
        "n_words": nw,
        "mean_word_len": mean_wlen,
        "top_token_share": top_share,
        "n_stopwords": n_stop,
        "rule_word_count": r_words,
        "rule_mean_word_len": r_wlen,
        "rule_stopwords": r_stop,
        "rule_repetition": r_rep,
        "rule_alpha": r_alpha,
        "keep": r_words & r_wlen & r_stop & r_rep & r_alpha,
    }


def gopher_quality_flags(docs: DataFrame) -> DataFrame:
    """Gopher rule flags from a frame carrying a precomputed ``ws``
    token-array column — the plan-sharing entry for consumers that need
    the per-rule audit columns. Unsorted (no ORDER BY): the public query
    adds the sort; a verdict consumer joining on doc_id must not pay a
    range exchange for an ordering the join destroys anyway."""
    rules = _gopher_rules(F.col("ws"))
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in rules.items()]
    )


GOPHER_RULES_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
  FROM documents
),
m AS (
  -- Zero-token guard mirrors the Spark plan: NULL ratios for empty docs
  -- (DuckDB's IEEE division would otherwise yield inf/nan), rules
  -- coalesced to false.
  SELECT doc_id,
         len(ws) AS n_words,
         CASE WHEN len(ws) > 0 THEN
           round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(ws, x -> CAST(len(x) AS BIGINT))),
                   (a, b) -> a + b) AS DOUBLE) / len(ws), 6)
         END AS mean_word_len,
         CASE WHEN len(ws) > 0 THEN
           round(CAST(list_max(list_transform(list_distinct(ws),
                   w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE)
                 / len(ws), 6)
         END AS top_token_share,
         len(list_intersect(list_distinct(ws),
             ['the','a','an','and','or','of','to','in','is','it']))
           AS n_stopwords,
         CASE WHEN len(ws) > 0 THEN
           round(CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
                 AS DOUBLE) / len(ws), 6)
         END AS alpha_frac
  FROM t
)
SELECT doc_id, n_words, mean_word_len, top_token_share, n_stopwords,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
         AS rule_word_count,
       coalesce(mean_word_len >= {GOPHER_MIN_MEAN_WLEN}
        AND mean_word_len <= {GOPHER_MAX_MEAN_WLEN}, false)
         AS rule_mean_word_len,
       (n_stopwords >= {GOPHER_MIN_STOPWORDS}) AS rule_stopwords,
       coalesce(top_token_share <= {GOPHER_MAX_TOP_SHARE}, false)
         AS rule_repetition,
       coalesce(alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}, false) AS rule_alpha,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
        AND coalesce(mean_word_len >= {GOPHER_MIN_MEAN_WLEN}
            AND mean_word_len <= {GOPHER_MAX_MEAN_WLEN}, false)
        AND n_stopwords >= {GOPHER_MIN_STOPWORDS}
        AND coalesce(top_token_share <= {GOPHER_MAX_TOP_SHARE}, false)
        AND coalesce(alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}, false)) AS keep
FROM m
ORDER BY doc_id
"""
