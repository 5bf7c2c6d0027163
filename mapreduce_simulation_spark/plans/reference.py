"""Reference-parity queries: the computational surface the reference engine
actually demonstrates end-to-end (SURVEY.md §2c).

The reference ships exactly two queries as mapper/reducer executables —
word count (tests/testdata/exec/wc_map.sh, wc_reduce.sh) and grep
(grep_map.py, grep_reduce.py) — plus identity/pass-through. Its derived
relational capability is: scan → flatMap/explode → project → filter →
hash-partition → sort → group-by-key → count/sum → write.

Here each is ONE declarative DataFrame expression. The map/shuffle/reduce
staging the reference hand-builds (hash_key at worker/__main__.py:62-65,
coreutils sort at :191-198, heapq.merge at :248) is Spark's shuffle: the
plans below compile to partial hash-aggregation → exchange → final
aggregation, i.e. a *better* physical strategy (map-side combine, which the
reference lacks — every map-output record is shuffled there).

Scale notes (100 TB): wordcount/grep are embarrassingly parallel scans; the
only shuffle is the group-by exchange on the token key, which partial
aggregation shrinks to ~|vocab| per partition. No collect, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from ..staging import memoized_plan

# Case-insensitive substring, mirroring grep_map.py:14-29's default query
# ("product" in the reference corpus; our corpus vocabulary differs).
GREP_QUERY = "spark"


def _tokens(text_col):
    """Whitespace tokenization, lowercased — wc_map.sh:12 semantics
    (`tr '[A-Z]' '[a-z]'` then split); empty tokens dropped to keep the
    DuckDB oracle's regexp-split semantics aligned."""
    return F.explode(F.split(F.lower(text_col), r"\s+")).alias("word")


@memoized_plan
def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count over documents.text (reference Q1+Q2).

    scan → explode(split(lower)) → groupBy(word).count(). Catalyst plans a
    partial count before the exchange, so shuffle volume is bounded by
    vocabulary size per partition, not corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(_tokens(F.col("text")))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def grep(
    spark: SparkSession, sf_dir: str, query: str = GREP_QUERY
) -> DataFrame:
    """Case-insensitive substring filter + projection (reference Q3+Q4).

    The search term is a parameter with a default, mirroring the
    reference's argv contract (grep_map.py:14-17: `sys.argv[1]`, default
    query otherwise). The filter is a deterministic predicate on a scanned
    column, so it is evaluated inside the scan stage (and `contains` on a
    literal can reach the parquet reader as a row-group filter for
    dictionary-encoded cols).
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(F.lower(F.col("text")).contains(query.lower())).select(
        "doc_id", "text"
    )


def distinct_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT as a key-only reduce (SURVEY.md §2e aggregations)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(_tokens(F.col("text")))
        .where(F.col("word") != "")
        .distinct()
    )


def global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global total order = reference's num_reducers=1 mode
    (tests/test_integration_00.py:27). Spark uses range partitioning +
    sort-within-partitions instead of funneling through one reducer, so
    total order costs a sampled exchange, not a single-node bottleneck.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(_tokens(F.col("text")))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("word")
    )


def identity_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity map (`cat` mapper, reference tests/test_worker_11.py:38) —
    a pure projection; with column pruning this reads two columns only."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "n_chars")


def union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-file input union (reference S1/S2: the manager concatenates a
    sorted file list into one logical input). Spark: union of scans; here,
    two disjoint slices re-unioned to exercise the operator."""
    docs = load_table(spark, sf_dir, "documents")
    evens = docs.where(F.col("doc_id") % 2 == 0)
    odds = docs.where(F.col("doc_id") % 2 == 1)
    return evens.unionByName(odds).select("doc_id", "lang", "n_chars")


def constant_key_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grep pipeline's constant-key global collapse (all rows keyed "1"
    → one reducer; grep_map.py emits `1\\tline`) ≙ a global aggregation.
    Spark computes it as partial-agg per partition + single final combine —
    no single-worker data funnel."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(F.lower(F.col("text")).contains(GREP_QUERY.lower())).agg(
        F.count(F.lit(1)).alias("match_cnt"),
        F.sum("n_chars").alias("match_chars"),
    )


def text_dir_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count over the reference's NATIVE data model end-to-end: the
    documents are staged as a directory of plain-text files (the
    reference's input_directory contract, S1), scanned with the
    text-directory source (S1-S3), tokenized and counted (Q1+Q2). Newlines
    inside a document split it across lines, exactly as the reference's
    line-oriented reader would see it — the whitespace tokenizer makes the
    token multiset identical either way, so the parquet word_count oracle
    applies unchanged."""
    from ..sources.text_dir import read_text_dir
    from ..staging import stage_once_dir

    stage = stage_once_dir(
        "docs_textdir_",
        f"sf={sf_dir}",
        "",
        lambda path: load_table(spark, sf_dir, "documents")
        .select("text")
        .write.mode("overwrite")
        .text(path),
    )
    lines = read_text_dir(spark, stage, min_partitions=4)
    return (
        lines.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("value")), r"\s+"), lambda x: x != ""
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def udtf_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count through a Python UDTF — the reference's mapper contract
    (one input record → 0..n output rows; reference worker/__main__.py:
    173-186 pipes a file through an executable) as a first-class Spark
    table function, joined laterally. Third face of the same contract:
    `pipe_word_count` runs actual executables (bit-compatible),
    applyInPandas covers grouped reducers, and this covers row-generating
    mappers in pure Python with engine-managed distribution. Same oracle
    as word_count — the tokenizer semantics are identical."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string")
    class Tokenize:
        def eval(self, text: str):  # noqa: ANN001 — Spark introspects hints
            import re

            for w in re.split(r"\s+", (text or "").lower()):
                if w:
                    yield (w,)

    spark.udtf.register("tokenize_udtf", Tokenize)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_udtf_src"
    )
    return spark.sql(
        """
        SELECT word, count(*) AS cnt
        FROM documents_udtf_src, LATERAL tokenize_udtf(text)
        GROUP BY word
        """
    )
