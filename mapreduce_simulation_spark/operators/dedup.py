"""Deduplication operators over the documents table (SURVEY.md §7 step 5).

Four families, all shuffle-disciplined for the 100 TB design point:

  exact          fingerprint (cross-engine polynomial hash) → window over fp.
                 One shuffle on a 64-bit key — never on raw text.
  ngram-jaccard  3-word shingles → DF-capped inverted-index candidate join
                 → exact-jaccard verification over the full shingle table.
                 The document-frequency cap bounds per-shingle join fanout
                 at cap² (one viral shingle can't build a quadratic
                 partition); scores stay exact because verification uses
                 the uncapped sets.
  minhash-lsh    16 permutations → 8 bands × 2 rows → band-bucket join →
                 exact-jaccard verification of candidates. Shuffle volume is
                 |docs| × 8 band keys, independent of document length — the
                 scale path for near-dup dedup.
  simhash        30-bit sign-aggregated fingerprint; hamming ≤ 3 pairs found
                 by 4-way band join (pigeonhole: ≤3 bit flips over 4 bands ⇒
                 some band identical — the banded join is EXACTLY complete,
                 not approximate).

Every operator has a DuckDB oracle generated from the same constants
(functions/hashing.py), so integer hash math matches bit-for-bit.

Capability lineage: the reference engine can express dedup only as a user
map/reduce program (key = content hash, reduce = pick first — reference
model, SURVEY.md §2e); these operators are that idea made first-class.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import hashing as H
from ..tables import load_table
from ..staging import memoized_plan, stage_once
from .text import tokens

JACCARD_THRESHOLD = 0.5
CONTAIN_MIN = 0.8  # containment: emit pairs where either direction >= this
CONTAIN_BUCKET_CAP = 64  # containment: skip anchor buckets larger than this
CONTAIN_ANCHORS = 3  # containment bands m: candidate recall 1-(1-J)^m
SIMHASH_BITS = 30
SIMHASH_BAND_BITS = 8  # 4 bands: 8+8+8+6 bits
HAMMING_MAX = 3

# Shingle identity = hashed, not the string: each token is char-hashed once
# (~5 chars of fold work), then a 3-token shingle hash is pure arithmetic
# combine — ((h1*131 + h2) % P * 131 + h3) % P. ~4× less fold work than
# hashing 20-char shingle strings, and downstream joins/shuffles move 8-byte
# ints instead of strings. Hash collisions are deterministic and identical
# in the oracle (same function), so comparisons stay exact.
SHINGLE_COMBINE = 131

# Shared DuckDB CTE: per-document distinct hashed 3-word shingles.
_TOKEN_HASH_LAMBDA = (
    "t -> coalesce(list_reduce("
    "list_transform(list_filter(str_split(t, ''), x -> x <> ''), "
    f"x -> CAST(ascii(x) AS BIGINT)), (a, b) -> (a * 31 + b) % {H.P}), 0)"
)

_SHINGLES_SQL = rf"""
tok AS (
  SELECT doc_id,
         list_transform(
           list_filter(str_split_regex(lower(text), '\s+'), x -> x <> ''),
           {_TOKEN_HASH_LAMBDA}) AS hs
  FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct(
           [((hs[i] * {SHINGLE_COMBINE} + hs[i+1]) % {H.P}
             * {SHINGLE_COMBINE} + hs[i+2]) % {H.P}
            for i in generate_series(1, len(hs) - 2)])) AS shingle
  FROM tok WHERE len(hs) >= 3
)
"""


def _shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle): distinct hashed 3-word shingles per document.

    Tokens are exploded to rows and hashed exactly once each, then shingle
    hashes are assembled with window `lead` over token position. (An
    array-expression formulation recomputes the token-hash array once per
    element access — Catalyst's CollapseProject re-inlines it into every
    lambda reference — so the row formulation is asymptotically cheaper
    despite the extra shuffle: the shuffle payload is one 8-byte hash per
    token. A broadcast-dictionary memoization — hash distinct words once,
    join back — cut the warm subtree 2.9→2.1 s at sf0.1 but added ~9 s of
    cold-start broadcast materialization to the full LSH query's first
    execution, so the inline per-token fold stays.)
    """
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "word")
    ).select("doc_id", "pos", H.char_hash(F.col("word")).alias("h"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    sh = tok.select(
        "doc_id",
        (
            (F.col("h") * SHINGLE_COMBINE + F.lead("h", 1).over(w)) % H.P
            * SHINGLE_COMBINE
            + F.lead("h", 2).over(w)
        ).alias("raw"),
    ).where(F.col("raw").isNotNull())
    return sh.select("doc_id", (F.col("raw") % H.P).alias("shingle")).distinct()


def staged_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table's distinct-shingle table (doc_id, shingle),
    MATERIALIZED ONCE per (corpus, shingle params) and served from parquet.

    The shingle build (posexplode → per-token hash → lead window →
    distinct) is corpus-scale work whose result is consumed by FIVE
    operator families (ngram-jaccard, minhash-LSH signature AND
    verification, the CC pair build, decontamination) — a production
    pipeline preprocesses the corpus into this shingle store once per
    snapshot, exactly like the tokenized frame curation_pipeline_v2
    shares in-plan.  Integer columns only, so the parquet roundtrip is
    bitwise and every consumer's oracle is unchanged."""
    return stage_once(
        spark,
        "shingles_",
        f"{sf_dir}|3gram_v1",
        "sh",
        lambda: _shingles(load_table(spark, sf_dir, "documents")),
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

@memoized_plan
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document canonical assignment by exact content: every doc maps to
    the smallest doc_id sharing its text fingerprint, with group size."""
    # The content fingerprint comes from the staged token store (an
    # identity-of-text consumer): a 2-column pruned scan of fixed-width
    # parquet replaces the raw-text scan + per-char polynomial fold at
    # query time. Bitwise-identical fp (pinned in
    # tests/test_pipe_and_sources.py), oracle unchanged.
    from .text import staged_tokenized_docs

    docs = staged_tokenized_docs(spark, sf_dir)
    w = Window.partitionBy("fp")
    return (
        docs.select("doc_id", "fp")
        .select(
            "doc_id",
            F.min("doc_id").over(w).alias("canonical_id"),
            F.count(F.lit(1)).over(w).alias("group_size"),
        )
    )


DEDUP_EXACT_SQL = f"""
WITH fps AS (
  SELECT doc_id, {H.char_hash_sql('text')} AS fp FROM documents
)
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
       count(*) OVER (PARTITION BY fp) AS group_size
FROM fps
"""


# ---------------------------------------------------------------------------
# Exhaustive n-gram jaccard near-dup
# ---------------------------------------------------------------------------

def _pair_jaccard(
    sh: DataFrame, pairs: DataFrame | None, sizes: DataFrame | None = None
) -> DataFrame:
    """Exact jaccard for doc pairs from a shingle table. If ``pairs`` is
    None, all pairs sharing ≥1 shingle (inverted-index self-join); else the
    intersection count is computed ONLY for the candidate pairs — the join
    is candidates ⋈ shingles(doc_a) ⋈ shingles(doc_b), so verification cost
    scales with |candidates| × doc-length, never with the full pair space.

    Pass a precomputed ``sizes`` (doc_id, n_sh) to avoid re-deriving the
    whole shingle pipeline twice just to count per-doc set sizes."""
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if pairs is not None:
        sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
        common = (
            pairs.join(sa, "doc_a")
            .join(sb, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        common = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


SHINGLE_DF_CAP = 32


@memoized_plan
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All near-dup pairs with 3-gram jaccard ≥ 0.5 via inverted-index
    candidate join with a hot-shingle cap, then exact verification.

    Candidate generation self-joins ONLY shingles with document frequency
    ≤ SHINGLE_DF_CAP (the pre-join aggregate caps each shingle's join
    fanout at cap² rows — one viral shingle can no longer produce a
    quadratic partition). Verification then computes the TRUE jaccard over
    the full, uncapped shingle table for just those candidates, so scores
    are exact. Completeness is a theorem, not a data property: pairs whose
    shared shingles are all hotter than the cap can only exist between
    docs that are mostly hot shingles, and those "risky" docs get
    candidates from the frequent shingles too (same theorem as
    _capped_candidates; the branch is empty on every tested corpus —
    measured max common-shingle min-DF at sf0.01 is 3 — and
    test_operators asserts equality with the uncapped join, including on
    an adversarial all-hot-shingle corpus).

    Verification splits the intersection count by the SAME df partition
    the index uses: c_true = c_rare + c_freq. c_rare falls out of the
    candidate groupBy for free (the _near_dup_pairs trick), so the exact
    re-join only has to count shared FREQUENT shingles — it fans each
    candidate out over the docs' few hot shingles instead of their whole
    shingle sets (measured 11.9 s → 3.3 s warm at sf0.1: the old
    candidates⋈sh⋈sh re-join materialized ~56M rows; the frequent-only
    join moves ~2M)."""
    sh = staged_shingles(spark, sf_dir)
    # One shingle-key exchange gives every row its global df; rare/freq
    # are then filters, not joins.
    sh_df = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    )
    capped = sh_df.where(F.col("df") <= SHINGLE_DF_CAP).select(
        "doc_id", "shingle"
    )
    freq_sh = sh_df.where(F.col("df") > SHINGLE_DF_CAP).select(
        "doc_id", "shingle"
    )
    base = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("c_rare"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    rare_sizes = capped.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_rare")
    )
    risky_ids = (
        sizes.join(rare_sizes, "doc_id", "left")
        .where(
            (1.0 + JACCARD_THRESHOLD)
            * (F.col("n_sh") - F.coalesce("n_rare", F.lit(0)))
            >= JACCARD_THRESHOLD * F.col("n_sh")
        )
        .select("doc_id")
    )
    freq_risky = freq_sh.join(F.broadcast(risky_ids), "doc_id")
    extra = (
        freq_risky.alias("fa")
        .join(
            freq_risky.alias("fb"),
            (F.col("fa.shingle") == F.col("fb.shingle"))
            & (F.col("fa.doc_id") < F.col("fb.doc_id")),
        )
        .select(
            F.col("fa.doc_id").alias("doc_a"),
            F.col("fb.doc_id").alias("doc_b"),
        )
        .distinct()
        .join(base.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti")
        .withColumn("c_rare", F.lit(0).cast("long"))
    )
    cand = base.unionByName(extra)
    fa = freq_sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    fb = freq_sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    c_freq = (
        cand.select("doc_a", "doc_b")
        .join(fa, "doc_a")
        .join(fb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c_freq"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    c = F.col("c_rare") + F.col("c_freq")
    return (
        cand.join(c_freq, ["doc_a", "doc_b"], "left")
        .na.fill({"c_freq": 0})
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (c.cast("double") / (F.col("n_a") + F.col("n_b") - c)).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


def _capped_candidates(sh: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) candidates sharing ≥1 shingle with document
    frequency ≤ SHINGLE_DF_CAP, PLUS the completeness branch that makes
    the cap a theorem rather than a heuristic: a qualifying pair sharing
    no rare shingle requires min(f_a, f_b) ≥ t/(1+t)·(n_a+n_b), so both
    docs must individually be mostly hot shingles ("risky",
    (1+t)·f_d ≥ t·n_d) — those docs also get candidates from the frequent
    shingles. The branch is empty on every tested corpus (0 risky docs at
    sf0.1) and ordered so AQE's empty-relation propagation erases it;
    downstream exact verification makes any candidate surplus harmless."""
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= SHINGLE_DF_CAP)
        .select("shingle")
    )
    capped = sh.join(rare, "shingle")
    base = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    rare_sizes = capped.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_rare")
    )
    risky_ids = (
        sizes.join(rare_sizes, "doc_id", "left")
        .where(
            (1.0 + JACCARD_THRESHOLD)
            * (F.col("n_sh") - F.coalesce("n_rare", F.lit(0)))
            >= JACCARD_THRESHOLD * F.col("n_sh")
        )
        .select("doc_id")
    )
    freq_risky = sh.join(F.broadcast(risky_ids), "doc_id").join(
        rare, "shingle", "left_anti"
    )
    extra = (
        freq_risky.alias("fa")
        .join(
            freq_risky.alias("fb"),
            (F.col("fa.shingle") == F.col("fb.shingle"))
            & (F.col("fa.doc_id") < F.col("fb.doc_id")),
        )
        .select(
            F.col("fa.doc_id").alias("doc_a"),
            F.col("fb.doc_id").alias("doc_b"),
        )
    )
    return base.unionByName(extra).distinct()


def _near_dup_pairs(
    docs: DataFrame, sh: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b) pairs at jaccard ≥ threshold — the graph-construction
    input for the CC family. Identical results to the exhaustive
    inverted-index join (cap-equality asserted in tests; end-to-end against
    the recursive-CTE oracle), but the THRESHOLD DECISION is made from
    exact intersection bounds, not a full re-join of candidate pairs
    against both shingle sets:

      c_rare  = shared rare (df ≤ cap) shingles — counted for free in the
                SAME groupBy that dedups the candidate join;
      c_true ∈ [c_rare, c_rare + min(f_a, f_b)]  (f = frequent shingles
                per doc) — jaccard is monotone in c, so a pair whose lower
                bound passes IS a near-dup, one whose upper bound fails is
                NOT, and only bound-straddlers need the expensive exact
                join (usually none: measured 256 accept / 1,130,280 prune
                / 0 undecided at sf0.1).

    The decision-only contract is what permits this: callers consume the
    edge list, not the jaccard value (dedup_ngram_jaccard, which emits the
    value, keeps the full verification path). Measured at sf0.1/local[32]:
    the pair build alone drops ~17 s → ~4 s, full
    dedup_connected_components 19.7 s (r4 bench) → ~11 s cold / 7.7 s
    warm.

    Measured and rejected (r7): replacing the candidate self-join with
    inverted-index bucket pair generation (groupBy shingle →
    array_sort(collect_list) → nested-transform ordered pairs → explode)
    — 1.23 s vs the self-join's 0.44 s warm at sf0.1 with identical
    output; the self-join's two identical subtrees share one exchange
    (ReusedExchange) while the interpreted higher-order pair emission is
    3× the cost of the hash join it avoids. Also rejected: attaching the
    shingle document frequency with a whole-partition count() window so
    capped/frequent become filters (no rare agg + join-back) — the
    capped table alone builds 1.86 s → 1.04 s, but the FULL query
    regresses 4.95 s → 6.35 s median-of-5: every downstream consumer
    then scans the wider sorted cache, losing more than the fused df
    pass saves."""
    # The shingle table feeds four consumers (rare-df agg, the capped
    # join, per-doc sizes, and the risky branch) and the capped table
    # three (both sides of the candidate self-join + rare sizes). Nothing
    # is persisted: the one caller hands in the staged shingle table, so
    # each consumer re-reads a parquet scan instead of re-running the
    # shingle build, and the pair frame itself is staged once per corpus
    # (staged_near_dup_pairs).
    if sh is None:
        sh = _shingles(docs)
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= SHINGLE_DF_CAP)
        .select("shingle")
    )
    capped = sh.join(rare, "shingle")
    cand = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("c_rare"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    rare_sizes = capped.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_rare")
    )
    per_doc = sizes.join(rare_sizes, "doc_id", "left").select(
        "doc_id",
        "n_sh",
        (F.col("n_sh") - F.coalesce("n_rare", F.lit(0))).alias("n_freq"),
    )
    sa = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("n_a"),
        F.col("n_freq").alias("f_a"),
    )
    sb = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("n_b"),
        F.col("n_freq").alias("f_b"),
    )
    bounded = cand.join(sa, "doc_a").join(sb, "doc_b")

    def _passes(c):  # same float compare the oracle uses
        return (
            c / (F.col("n_a") + F.col("n_b") - c) >= JACCARD_THRESHOLD
        )

    lower_pass = _passes(F.col("c_rare"))
    upper_pass = _passes(F.col("c_rare") + F.least("f_a", "f_b"))
    accepted = bounded.where(lower_pass).select("doc_a", "doc_b")
    undecided = bounded.where(~lower_pass & upper_pass).select(
        "doc_a", "doc_b"
    )
    # Completeness branch — what makes the rare-shingle candidate index a
    # THEOREM, not a heuristic: a pair sharing NO rare shingle can reach
    # jaccard ≥ t only if min(f_a, f_b) ≥ t/(1+t)·(n_a+n_b), so both docs
    # must individually satisfy (1+t)·f_d ≥ t·n_d ("risky": most of the
    # doc is hot shingles). Candidates for risky docs are generated from
    # the FREQUENT shingles and exactly verified. Empty at every tested
    # SF (0 risky docs at sf0.1 — boilerplate-dominated documents don't
    # occur in this corpus), so AQE's empty-relation propagation erases
    # the branch at runtime; when data does degenerate, the worst case is
    # the exhaustive join restricted to the risky subset.
    risky_ids = per_doc.where(
        (1.0 + JACCARD_THRESHOLD) * F.col("n_freq")
        >= JACCARD_THRESHOLD * F.col("n_sh")
    ).select("doc_id")
    # Join order matters for the empty common case: restricting to risky
    # docs FIRST (a broadcast of a normally-empty id set) keeps the branch
    # shuffle-free — anti-joining the full shingle table against `rare`
    # first would execute a corpus-scale shuffle join before AQE ever
    # learns the branch is dead (measured: ~1-3 s of wasted work per
    # call). The broadcast is safe in the regime this operator targets
    # (risky docs ≈ 0); a corpus degenerate enough to make the risky set
    # unbroadcastable is already paying the restricted-exhaustive
    # fallback, where dropping the hint is the right manual override.
    freq_risky = sh.join(F.broadcast(risky_ids), "doc_id").join(
        rare, "shingle", "left_anti"
    )
    extra = (
        freq_risky.alias("fa")
        .join(
            freq_risky.alias("fb"),
            (F.col("fa.shingle") == F.col("fb.shingle"))
            & (F.col("fa.doc_id") < F.col("fb.doc_id")),
        )
        .select(
            F.col("fa.doc_id").alias("doc_a"),
            F.col("fb.doc_id").alias("doc_b"),
        )
        .distinct()
        .join(
            cand.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
        )
    )
    # Bound-straddlers (normally an empty set — AQE's empty-relation
    # propagation then skips the shingle re-join entirely) and the
    # completeness-branch pairs get the exact intersection count; only
    # those truly at or above the threshold become edges.
    verified = (
        _pair_jaccard(sh, undecided.unionByName(extra), sizes=sizes)
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    return accepted.unionByName(verified)


def staged_near_dup_pairs(
    spark: SparkSession, sf_dir: str, docs_full: DataFrame
) -> DataFrame:
    """The near-dup pair frame of one corpus, MATERIALIZED ONCE per
    (corpus, shingle params) for the process lifetime and served from
    parquet to every consumer.

    The pair build is a sequential chain of small stages (shingles →
    rare-df agg → capped candidate self-join → bound checks, ~3.6 s of
    dedup_connected_components' 5.75 s at sf0.1) whose RESULT is shared
    verbatim by the whole clustering family — connected components (both
    variants), canonical selection, and incremental dedup all consume the
    identical edge list.  A production pipeline materializes this graph
    once per corpus snapshot and runs every downstream clustering pass
    against it; the keyed staging contract (staging.py) is that shape
    in-process.  Pair content is deterministic (exact-decision builder,
    integer keys), so the parquet roundtrip is bitwise-faithful and every
    consumer's oracle hash is unchanged.

    The staged scan also REPLACES the per-consumer ``localCheckpoint``:
    a parquet source is already plan-truncated, so unions/self-references
    over it re-read files instead of re-running the build."""
    return stage_once(
        spark,
        "neardup_pairs_",
        f"{sf_dir}|cap{SHINGLE_DF_CAP}|t{JACCARD_THRESHOLD}",
        "pairs",
        lambda: _near_dup_pairs(docs_full, sh=staged_shingles(spark, sf_dir)),
    )


DEDUP_NGRAM_SQL = f"""
WITH {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
      >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------

def minhash_signatures(
    docs: DataFrame | None,
    with_sizes: bool = False,
    sh: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, m0..m15[, n_sh]): MinHash signature from shingle hashes.
    ``with_sizes`` piggybacks the per-doc shingle-set size onto the SAME
    aggregation — free in the partial/final agg, and it spares the
    verification stage two extra full shingle-pipeline branches that would
    exist only to count sizes.  Pass ``sh`` (e.g. the staged per-corpus
    shingle table) to skip the inline shingle build."""
    if sh is None:
        sh = _shingles(docs)  # shingle column is already the hash
    mins = [
        F.min(H.perm_hash(F.col("shingle"), i)).alias(f"m{i}")
        for i in range(len(H.MINHASH_PERMS))
    ]
    if with_sizes:
        mins.append(F.count(F.lit(1)).alias("n_sh"))
    return sh.groupBy("doc_id").agg(*mins)


def narrow_minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, key): MinHash LSH band keys computed per-row, with
    NO shuffle and NO window — the streaming-compatible formulation of the
    shingle → signature → band pipeline that feeds the ingestion dedup
    gate (streaming/stateful.streaming_minhash_dedup).

    The batch pipeline (_shingles → minhash_signatures) uses a per-doc
    lead() window and a groupBy min — both need an exchange, and a
    streaming groupBy would force update-mode stateful aggregation. Here
    the token-hash array, the 3-gram shingle set, and all 16 permutation
    minima are array expressions over one row, so the operator stays a
    stateless projection any micro-batch can run. (For batch use the row
    formulation remains faster — see _shingles' docstring — because
    Catalyst re-inlines the token-hash array into each lambda reference;
    per-row that re-inline is bounded by document length.)

    Band keys are the SIGNATURE-VALUE strings "m_i:m_j" (not xxhash64 of
    them): the batch LSH can afford hash-collision candidates because its
    exact-jaccard verification filters them, but the gate emits verdicts
    straight from bucket membership, so its keys must be collision-free —
    and the value string is exactly reproducible in the DuckDB oracle.
    Numerically identical to minhash_signatures: same char-fold token
    hash, same shingle combine, same (A, B) permutations, same distinct
    semantics (asserted in tests/test_staged_ann.py)."""
    hs = F.transform(tokens(F.col("text")), lambda t: H.char_hash(t))
    with_hs = docs.select("doc_id", hs.alias("hs")).where(F.size("hs") >= 3)
    shingle_at = lambda i: (  # noqa: E731 — 0-based via F.get
        (
            F.get("hs", i) * SHINGLE_COMBINE + F.get("hs", i + 1)
        ) % H.P * SHINGLE_COMBINE + F.get("hs", i + 2)
    ) % H.P
    sh_arr = F.array_distinct(
        F.transform(F.sequence(F.lit(0), F.size("hs") - 3), shingle_at)
    )
    with_sh = with_hs.select("doc_id", sh_arr.alias("sh"))
    ms = [
        F.array_min(
            F.transform("sh", lambda s: H.perm_hash(s, i))
        ).alias(f"m{i}")
        for i in range(len(H.MINHASH_PERMS))
    ]
    sig = with_sh.select("doc_id", *ms)
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
    return sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


# The (band, key) bucket the ingestion gates' banders emit per doc and band;
# the band-index gate (streaming/stateful.py) persists and reads it back.
BUCKET_SCHEMA = "band int, key string"


def _arrow_signature_mapper(docs: DataFrame, perms, emit) -> DataFrame:
    """Shared streaming-legal numpy pipeline behind the ingestion gates:
    tokenize → char-fold → 3-gram shingle → per-doc min over each (a, b)
    permutation in ``perms``; ``emit(ids, sig)`` turns the per-doc minima
    matrix into (doc_id, band, key) rows (MinHash band pairs for the LSH
    gate; single-anchor values for the containment gate). Factored out in
    r15 so the containment gate reuses the measured-hot fold instead of
    duplicating it. Numerics and boundary semantics below are unchanged
    from the r13 original and remain pinned by the expression-twin
    equality tests.

    Numerically identical twin of narrow_minhash_bands, computed by a
    numpy-vectorized mapInPandas instead of Catalyst HOF expressions.

    Why it exists: higher-order-function lambdas never enter whole-stage
    codegen, so the per-row tokenize → char-fold → shingle → 16-perm-min
    pipeline runs interpreted — measured as the dominant cost of the
    streaming ingestion gate (~5.5 s of a 5.8 s drain at sf0.1/local[32];
    partition-count sweep showed the stage is CPU-bound, not
    overhead-bound). mapInPandas is stateless, so it is streaming-legal
    ahead of the stateful gate step, and every fold is int64-safe modular
    arithmetic (max intermediate ≈ 1e18 < 2^63), so numpy reproduces the
    JVM fold bit-for-bit:

      token hash  = Σ code_j · 31^(L-1-j) mod P  (the strict left fold in
                    closed polynomial form; per-element products are taken
                    mod P before the ≤ maxlen·P segmented sum)
      shingle     = ((h0·131 + h1) mod P · 131 + h2) mod P
      signature   = min_i (shingle·A_i + B_i) mod P  over DISTINCT shingles
      band key    = "m_{2b}:m_{2b+1}"  (signature-value string)

    Equality with the expression twin is asserted over the full corpus in
    tests (and transitively against the DuckDB oracle). Boundaries: char
    codes come from UTF-32 codepoints, which matches F.ascii / DuckDB
    ascii on the BMP text this engine's corpora contain; the expression
    twin's F.split(c, "") would see UTF-16 surrogate halves on astral
    chars — neither side's contract covers those. Tokenization splits on
    the ASCII whitespace class [ \\t\\n\\x0b\\f\\r] explicitly (NOT
    str.split(), which also splits on Unicode spaces like NBSP/U+2000
    that Java's \\s+ — the expression twin and the oracle — does not).
    """
    import re

    import numpy as np

    n_perms = len(perms)
    P = H.P
    # Java \s = [ \t\n\x0b\f\r] — match the expression twin exactly
    ascii_ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def batches(pdfs: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        empty = pd.DataFrame(
            {
                "doc_id": pd.Series([], dtype="int64"),
                "band": pd.Series([], dtype="int32"),
                "key": pd.Series([], dtype="object"),
            }
        )
        for pdf in pdfs:
            if not len(pdf):
                yield empty
                continue
            tok_lists = [
                [w for w in ascii_ws.split(t.lower()) if w]
                for t in pdf["text"]
            ]
            ntok = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=len(pdf)
            )
            keep = ntok >= 3
            if not keep.any():
                yield empty
                continue
            ids = pdf["doc_id"].to_numpy()[keep]
            flat: list[str] = []
            for tl, k in zip(tok_lists, keep):
                if k:
                    flat.extend(tl)
            tok_lens = np.fromiter(
                (len(t) for t in flat), dtype=np.int64, count=len(flat)
            )
            codes = np.frombuffer(
                "".join(flat).encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            ends = np.cumsum(tok_lens)
            starts = ends - tok_lens
            # 31^k mod P table; exponent of a char = chars left of token end
            pw = np.ones(int(tok_lens.max()), dtype=np.int64)
            for i in range(1, len(pw)):
                pw[i] = pw[i - 1] * 31 % P
            expo = np.repeat(ends - 1, tok_lens) - np.arange(len(codes))
            prod = codes * pw[expo] % P
            th = np.add.reduceat(prod, starts) % P  # per-token hashes
            # consecutive 3-gram shingles within each doc
            dtok = ntok[keep]
            nsh = dtok - 2
            off = np.cumsum(nsh) - nsh
            i0 = np.repeat(np.cumsum(dtok) - dtok, nsh) + (
                np.arange(int(nsh.sum())) - np.repeat(off, nsh)
            )
            sh = ((th[i0] * SHINGLE_COMBINE + th[i0 + 1]) % P
                  * SHINGLE_COMBINE + th[i0 + 2]) % P
            # distinct per doc: pack (doc_index, shingle) into one int64
            dix = np.repeat(np.arange(len(ids), dtype=np.int64), nsh)
            packed = np.unique(dix * (1 << 33) + sh)
            u_doc = packed >> 33
            u_sh = packed & ((1 << 33) - 1)
            seg = np.flatnonzero(
                np.diff(u_doc, prepend=np.int64(-1))
            )  # first index of each doc's run (every kept doc has ≥1)
            sig = np.empty((len(ids), n_perms), dtype=np.int64)
            for i, (a, b) in enumerate(perms):
                sig[:, i] = np.minimum.reduceat((u_sh * a + b) % P, seg)
            yield emit(ids, sig)

    return docs.mapInPandas(batches, f"doc_id long, {BUCKET_SCHEMA}")


def narrow_minhash_bands_arrow(docs: DataFrame) -> DataFrame:
    """MinHash LSH banding for the streaming ingestion gate: 8 bands of
    2 signature values each, key = "m_{2b}:m_{2b+1}" — see
    _arrow_signature_mapper for the shared fold and its numeric contract
    (equality with the expression twin is asserted over the full corpus
    in tests, and transitively against the DuckDB oracle)."""
    import numpy as np
    import pandas as pd

    def emit(ids, sig):
        out_ids = np.repeat(ids, H.N_BANDS)
        out_band = np.tile(np.arange(H.N_BANDS, dtype=np.int32), len(ids))
        keys = [
            f"{sig[d, 2 * b]}:{sig[d, 2 * b + 1]}"
            for d in range(len(ids))
            for b in range(H.N_BANDS)
        ]
        return pd.DataFrame(
            {"doc_id": out_ids, "band": out_band, "key": keys}
        )

    return _arrow_signature_mapper(docs, H.MINHASH_PERMS, emit)


def narrow_containment_anchors_arrow(docs: DataFrame) -> DataFrame:
    """Containment anchor banding for the streaming ingestion gate:
    CONTAIN_ANCHORS bands of ONE signature value each (the same m
    perm-hash minima containment_dedup buckets on in batch), key =
    str(m_i) — band width 1 is what gives the gate the 1-(1-J)^m
    candidate envelope instead of LSH's (J^r)-per-band one."""
    import numpy as np
    import pandas as pd

    m = CONTAIN_ANCHORS

    def emit(ids, sig):
        out_ids = np.repeat(ids, m)
        out_band = np.tile(np.arange(m, dtype=np.int32), len(ids))
        keys = [
            str(sig[d, i]) for d in range(len(ids)) for i in range(m)
        ]
        return pd.DataFrame(
            {"doc_id": out_ids, "band": out_band, "key": keys}
        )

    return _arrow_signature_mapper(docs, H.MINHASH_PERMS[:m], emit)


def _staged_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, m0..m15, n_sh): the per-corpus MinHash signature table,
    COMPUTED ONCE from the staged shingle store and served from parquet —
    the signature file a production LSH deployment keeps beside its
    shingle store. Integer columns — bitwise roundtrip. Replaces the
    per-branch signature recompute (band self-join sides + the size
    lookups all read the same scan). Honest local measurement (r8 A/B):
    a WASH at sf0.1 (~0.72-0.94 s both forms — the sig agg over the
    staged shingle scan was already cheap); kept because at real corpus
    sizes the signature aggregation is |corpus|-scale work that belongs
    in the offline index build, exactly like the simhash and LSH-band
    artifacts."""
    return stage_once(
        spark,
        "minhash_sig_",
        f"{sf_dir}|3gram_v1",
        "sig",
        lambda: minhash_signatures(
            None, with_sizes=True, sh=staged_shingles(spark, sf_dir)
        ).repartition(spark.sparkContext.defaultParallelism),
    )


@memoized_plan
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via MinHash banding: signature → 8 band keys per doc →
    bucket self-join → exact-jaccard verification at ≥ 0.5.

    The banded join shuffles |docs|×8 short keys — independent of document
    size; verification touches only candidate pairs. This is the operator
    that survives 100 TB (the exhaustive ngram join is the small-scale twin).
    """
    # The signature subtree is referenced four times (band self-join sides
    # + size lookups) and the verification re-reads the shingle table; all
    # branches now start from the staged per-corpus shingle parquet
    # (staged_shingles), so each re-derivation is a columnar scan instead
    # of re-running posexplode + per-token hash + lead window + distinct.
    # (The earlier persist/localCheckpoint-vs-recompute A/B is moot for
    # the shingle build itself — the staged scan IS the shared
    # materialization point; the signature agg above it still recomputes
    # per branch concurrently, which measured faster than a persist
    # barrier at sf0.1/local[32].)
    sh = staged_shingles(spark, sf_dir)
    sig = _staged_minhash_sig(spark, sf_dir)
    # Band key = ONE xxhash64 long over the band's signature rows, not a
    # concatenated string: the banded shuffle then carries 8 fixed-width
    # longs per doc instead of 8 variable-length strings, and the self-join
    # compares longs. A 64-bit collision can only ADD a candidate pair,
    # which the exact-jaccard verification below filters out — correctness
    # is collision-immune by construction (asserted identical at sf0.01 in
    # tests). Measured at sf0.1/local[32]: 1.50 s → 1.35 s best-of-4
    # (cold first run 2.16 s → 1.60 s); a later remeasure on a busier
    # machine saw 1.72 s best / 2.25 s cold — absolute numbers here move
    # with host load, the long-key-vs-string delta is the stable part.
    # (A fully-narrow formulation — token-hash array behind a Generate
    # barrier, per-doc array_min signatures, ZERO shuffles to the band
    # keys — was prototyped and is SLOWER end-to-end: 2.14 s vs 1.72 s
    # best, because without exchanges there is nothing for AQE to reuse
    # and the interpreted hash pipeline re-runs once per subtree branch.
    # The exchanges below double as shared materialization points.)
    return _minhash_verified_pairs(sh, sig)


def _minhash_verified_pairs(sh: DataFrame, sig: DataFrame) -> DataFrame:
    """Banded candidate generation + exact-jaccard verification over an
    arbitrary (shingles, signatures) corpus slice — the shared core of
    dedup_minhash_lsh (full corpus) and gated_dedup_pipeline (gate-kept
    subset)."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.col(f"m{b * H.ROWS_PER_BAND + r}")
                        for r in range(H.ROWS_PER_BAND)
                    ]
                ).alias("key"),
            )
            for b in range(H.N_BANDS)
        ]
    )
    banded = sig.select(
        "doc_id", F.explode(bands).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _pair_jaccard(
        sh, candidates, sizes=sig.select("doc_id", "n_sh")
    ).orderBy("doc_a", "doc_b")


def _minhash_oracle_sql() -> str:
    n = len(H.MINHASH_PERMS)
    min_exprs = ",\n    ".join(
        f"min({H.perm_hash_sql('h', i)}) AS m{i}" for i in range(n)
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, m{i0} || ':' || m{i1} AS key FROM sig".format(
            b=b, i0=b * H.ROWS_PER_BAND, i1=b * H.ROWS_PER_BAND + 1
        )
        for b in range(H.N_BANDS)
    )
    return f"""
WITH {_SHINGLES_SQL},
hashed AS (SELECT doc_id, shingle AS h FROM sh),
sig AS (
  SELECT doc_id,
    {min_exprs}
  FROM hashed GROUP BY doc_id
),
banded AS (
  {band_selects}
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
  FROM common c
  JOIN candidates k ON k.doc_a = c.doc_a AND k.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM verified
WHERE jaccard >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


DEDUP_MINHASH_SQL = _minhash_oracle_sql()


@memoized_plan
def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality measurement: for every LSH candidate pair, the
    MinHash-ESTIMATED jaccard (matching signature components / 16 — the
    actual estimator banding approximates) side by side with the exact
    shingle-set jaccard. This is the query a pipeline owner runs before
    trusting a banding threshold on a new corpus: it quantifies, per
    pair, how far the 16-permutation estimate sits from truth, entirely
    from the staged signature and shingle artifacts.

    Output (doc_a, doc_b, sig_matches, est_jaccard, exact_jaccard) — the
    estimate is one integer division (matches/16.0) and the exact value
    one division of exact integers, so the DuckDB twin hash-matches
    bit-for-bit. Unlike dedup_minhash_lsh the exact jaccard is NOT
    thresholded: near-miss candidates (bucket collisions below 0.5) are
    the interesting rows for calibration.

    Scale: the banded candidate join is the dedup_minhash_lsh shape
    (|docs|×8 short keys, never corpus²); the signature re-join is two
    broadcast-size lookups per candidate and the exact intersection is
    candidate-bounded (_pair_jaccard's verification join)."""
    sh = staged_shingles(spark, sf_dir)
    sig = _staged_minhash_sig(spark, sf_dir)
    n = len(H.MINHASH_PERMS)
    # Collision-FREE signature-value band keys (not xxhash64 like
    # dedup_minhash_lsh): a 64-bit key collision would ADD a candidate
    # pair, and this query has no jaccard threshold to filter it back
    # out — the candidate set itself must match the oracle exactly.
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ":",
                    *[
                        F.col(f"m{b * H.ROWS_PER_BAND + r}")
                        for r in range(H.ROWS_PER_BAND)
                    ],
                ).alias("key"),
            )
            for b in range(H.N_BANDS)
        ]
    )
    banded = sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    candidates = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(n)],
        F.col("n_sh").alias("n_a"),
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(n)],
        F.col("n_sh").alias("n_b"),
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(n)
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        candidates.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        candidates.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .join(common, ["doc_a", "doc_b"], "left")
        .na.fill({"n_common": 0})
        .select(
            "doc_a",
            "doc_b",
            matches.cast("int").alias("sig_matches"),
            (matches.cast("double") / float(n)).alias("est_jaccard"),
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("exact_jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _minhash_estimate_oracle_sql() -> str:
    n = len(H.MINHASH_PERMS)
    min_exprs = ",\n    ".join(
        f"min({H.perm_hash_sql('h', i)}) AS m{i}" for i in range(n)
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, m{i0} || ':' || m{i1} AS key FROM sig".format(
            b=b, i0=b * H.ROWS_PER_BAND, i1=b * H.ROWS_PER_BAND + 1
        )
        for b in range(H.N_BANDS)
    )
    match_sum = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(n)
    )
    return f"""
WITH {_SHINGLES_SQL},
hashed AS (SELECT doc_id, shingle AS h FROM sh),
sig AS (
  SELECT doc_id,
    {min_exprs}
  FROM hashed GROUP BY doc_id
),
banded AS (
  {band_selects}
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM candidates c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       CAST({match_sum} AS INTEGER) AS sig_matches,
       CAST({match_sum} AS DOUBLE) / {float(n)!r} AS est_jaccard,
       CAST(coalesce(n_common, 0) AS DOUBLE)
         / (za.n_sh + zb.n_sh - coalesce(n_common, 0)) AS exact_jaccard
FROM candidates c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
JOIN sizes za ON za.doc_id = c.doc_a
JOIN sizes zb ON zb.doc_id = c.doc_b
LEFT JOIN common ON common.doc_a = c.doc_a AND common.doc_b = c.doc_b
"""


_MINHASH_ESTIMATE_CORE_SQL = _minhash_estimate_oracle_sql()
MINHASH_ESTIMATE_SQL = (
    _MINHASH_ESTIMATE_CORE_SQL + "ORDER BY c.doc_a, c.doc_b\n"
)

# Calibration grid in percent (integers survive both engines untouched;
# pct/100.0 is the same IEEE division on both sides).
BANDING_THRESHOLD_GRID = (30, 40, 50, 60, 70, 80, 90)


def _staged_pair_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-pair calibration metrics (est_jaccard, exact_jaccard) as a
    STAGED per-corpus artifact — the same keyed-staging discipline as the
    near-dup pair graph above: the estimate-vs-exact table is computed
    once per corpus snapshot and every calibration sweep (threshold
    curves, future per-band diagnostics) reads the parquet instead of
    re-running the candidate join + shingle intersection per sweep. Both
    metrics are quotients of exact integers, and IEEE doubles round-trip
    parquet bit-for-bit, so consumers' oracle hashes are unchanged.

    Scale: the artifact is |candidate pairs| rows × 2 doubles; the build
    is the minhash_jaccard_estimate plan (banded join, never corpus²),
    paid once — afterwards a threshold sweep's cost is one scan of the
    pair metrics, independent of how many sweeps the owner runs."""
    return stage_once(
        spark,
        "pair_metrics_",
        f"{sf_dir}|3gram_v1",
        "metrics",
        lambda: minhash_jaccard_estimate(spark, sf_dir).select(
            "est_jaccard", "exact_jaccard"
        ),
    )


@memoized_plan
def banding_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banding-calibration summary a pipeline owner reads before
    picking a dedup threshold: for each candidate-pair jaccard threshold
    on a fixed grid, how many LSH candidate pairs the 16-permutation
    ESTIMATE accepts vs how many the EXACT jaccard accepts, and their
    confusion split (both / estimate-only / exact-only). Exposes the
    sketch's false-accept and false-reject behavior per threshold from
    ONE pass over the candidate pairs — all counts are integers, so the
    DuckDB twin hash-matches exactly.

    Scale: input is the candidate-pair frame (banded join, never
    corpus²), and the grid never multiplies it: each pair is classified
    ONCE into its (est_rank, exact_rank) grid-interval cell — rank r =
    how many grid thresholds the value clears, so ``value >= t_i ⟺
    r >= i`` exactly (same IEEE comparisons, ascending grid) — and the
    pair scan collapses to ≤ (|grid|+1)² count cells before the grid
    cross join touches anything (r12 verdict: the previous shape pushed
    7× the pair stream through the aggregate and sat at the 1.6× ×10
    probe bar; the cell precompute takes the grid out of the scan term).
    The broadcast cross join multiplies a ≤64-row aggregate by 7 grid
    rows — metadata-scale. The pair metrics themselves are a staged
    per-corpus artifact (_staged_pair_metrics), so a sweep re-run costs
    one parquet scan of |pairs| rows, not the candidate-join pipeline."""
    est = _staged_pair_metrics(spark, sf_dir)
    thresholds = [
        F.lit(p).cast("double") / F.lit(100.0)
        for p in BANDING_THRESHOLD_GRID
    ]

    def _rank(col: str):
        r = F.lit(0)
        for t in thresholds:
            r = r + (F.col(col) >= t).cast("int")
        return r

    cells = (
        est.select(
            _rank("est_jaccard").alias("er"),
            _rank("exact_jaccard").alias("xr"),
        )
        .groupBy("er", "xr")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    grid = spark.createDataFrame(
        [(i + 1, p) for i, p in enumerate(BANDING_THRESHOLD_GRID)],
        "i int, pct int",
    )
    e_ge = (F.col("er") >= F.col("i")).cast("bigint")
    x_ge = (F.col("xr") >= F.col("i")).cast("bigint")
    cnt = F.col("cnt")
    return (
        cells.crossJoin(F.broadcast(grid))
        .groupBy("pct")
        .agg(
            F.sum(cnt).alias("n_candidates"),
            F.sum(e_ge * cnt).alias("n_est_accept"),
            F.sum(x_ge * cnt).alias("n_exact_accept"),
            F.sum(e_ge * x_ge * cnt).alias("n_both"),
            F.sum(e_ge * (1 - x_ge) * cnt).alias("n_est_only"),
            F.sum((1 - e_ge) * x_ge * cnt).alias("n_exact_only"),
        )
        .orderBy("pct")
    )


def _banding_curve_oracle_sql() -> str:
    grid = ", ".join(str(p) for p in BANDING_THRESHOLD_GRID)
    return f"""
WITH est AS ({_MINHASH_ESTIMATE_CORE_SQL}),
g AS (SELECT unnest([{grid}]) AS pct)
SELECT g.pct AS pct,
       count(*) AS n_candidates,
       CAST(sum(CASE WHEN est_jaccard >= CAST(g.pct AS DOUBLE) / 100.0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_est_accept,
       CAST(sum(CASE WHEN exact_jaccard >= CAST(g.pct AS DOUBLE) / 100.0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_accept,
       CAST(sum(CASE WHEN est_jaccard >= CAST(g.pct AS DOUBLE) / 100.0
                 AND exact_jaccard >= CAST(g.pct AS DOUBLE) / 100.0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       CAST(sum(CASE WHEN est_jaccard >= CAST(g.pct AS DOUBLE) / 100.0
                 AND exact_jaccard < CAST(g.pct AS DOUBLE) / 100.0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_est_only,
       CAST(sum(CASE WHEN est_jaccard < CAST(g.pct AS DOUBLE) / 100.0
                 AND exact_jaccard >= CAST(g.pct AS DOUBLE) / 100.0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_only
FROM est, g
GROUP BY g.pct
ORDER BY pct
"""


BANDING_CURVE_SQL = _banding_curve_oracle_sql()


def _minhash_gate_oracle_sql() -> str:
    """Oracle for the streaming ingestion gate: a doc is dup-in-a-band iff
    a LOWER-id doc shares that band's signature-value key — no jaccard
    verification stage, because the gate's contract is bucket membership
    (its keys are the exact signature values, so there are no hash
    collisions to filter). Shares the shingle/signature/banded CTEs with
    the batch minhash oracle."""
    n = len(H.MINHASH_PERMS)
    min_exprs = ",\n    ".join(
        f"min({H.perm_hash_sql('h', i)}) AS m{i}" for i in range(n)
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, m{i0} || ':' || m{i1} AS key FROM sig".format(
            b=b, i0=b * H.ROWS_PER_BAND, i1=b * H.ROWS_PER_BAND + 1
        )
        for b in range(H.N_BANDS)
    )
    return f"""
WITH {_SHINGLES_SQL},
hashed AS (SELECT doc_id, shingle AS h FROM sh),
sig AS (
  SELECT doc_id,
    {min_exprs}
  FROM hashed GROUP BY doc_id
),
banded AS (
  {band_selects}
),
verdict AS (
  SELECT a.doc_id, a.band,
         CASE WHEN EXISTS (
           SELECT 1 FROM banded b
           WHERE b.band = a.band AND b.key = a.key AND b.doc_id < a.doc_id
         ) THEN 1 ELSE 0 END AS dup
  FROM banded a
)
SELECT doc_id,
       CAST(sum(dup) AS BIGINT) AS dup_bands,
       CAST(max(dup) AS INTEGER) AS is_candidate_dup
FROM verdict
GROUP BY doc_id
ORDER BY doc_id
"""


STREAMING_MINHASH_GATE_SQL = _minhash_gate_oracle_sql()


def _containment_gate_oracle_sql() -> str:
    """Oracle for the streaming CONTAINMENT ingestion gate: a doc hits an
    anchor band iff a LOWER-id doc claimed that (band, key) — same
    lower-id-occupancy contract as the MinHash gate oracle, with the
    CONTAIN_ANCHORS single-value anchor keys (str(m_i)) in place of the
    two-value LSH band keys."""
    m = CONTAIN_ANCHORS
    min_exprs = ",\n    ".join(
        f"min({H.perm_hash_sql('h', i)}) AS m{i}" for i in range(m)
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, CAST(m{i} AS VARCHAR) AS key FROM sig"
        for i in range(m)
    )
    return f"""
WITH {_SHINGLES_SQL},
hashed AS (SELECT doc_id, shingle AS h FROM sh),
sig AS (
  SELECT doc_id,
    {min_exprs}
  FROM hashed GROUP BY doc_id
),
banded AS (
  {band_selects}
),
verdict AS (
  SELECT a.doc_id, a.band,
         CASE WHEN EXISTS (
           SELECT 1 FROM banded b
           WHERE b.band = a.band AND b.key = a.key AND b.doc_id < a.doc_id
         ) THEN 1 ELSE 0 END AS dup
  FROM banded a
)
SELECT doc_id,
       CAST(sum(dup) AS BIGINT) AS hit_anchors,
       CAST(max(dup) AS INTEGER) AS is_candidate_contain
FROM verdict
GROUP BY doc_id
ORDER BY doc_id
"""


STREAMING_CONTAINMENT_GATE_SQL = _containment_gate_oracle_sql()


def _gated_pipeline_oracle_sql() -> str:
    """Oracle for streaming.stateful.gated_dedup_pipeline: the gate verdict
    CTEs (signature-value band keys, lower-id occupancy) compute the
    flagged set; the batch CTEs (candidates → exact jaccard) compute
    verified pairs once over the full corpus, and the kept-set residual is
    the same verified relation restricted to pairs whose BOTH endpoints
    survived the gate — equivalent to re-running the batch dedup on the
    kept slice, because dropping documents changes neither the surviving
    docs' shingles nor their band keys."""
    n = len(H.MINHASH_PERMS)
    min_exprs = ",\n    ".join(
        f"min({H.perm_hash_sql('h', i)}) AS m{i}" for i in range(n)
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, m{i0} || ':' || m{i1} AS key FROM sig".format(
            b=b, i0=b * H.ROWS_PER_BAND, i1=b * H.ROWS_PER_BAND + 1
        )
        for b in range(H.N_BANDS)
    )
    return f"""
WITH {_SHINGLES_SQL},
hashed AS (SELECT doc_id, shingle AS h FROM sh),
sig AS (
  SELECT doc_id,
    {min_exprs}
  FROM hashed GROUP BY doc_id
),
banded AS (
  {band_selects}
),
verdict AS (
  SELECT a.doc_id, a.band,
         CASE WHEN EXISTS (
           SELECT 1 FROM banded b
           WHERE b.band = a.band AND b.key = a.key AND b.doc_id < a.doc_id
         ) THEN 1 ELSE 0 END AS dup
  FROM banded a
),
flagged AS (
  SELECT doc_id FROM verdict GROUP BY doc_id HAVING max(dup) = 1
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
  FROM common c
  JOIN candidates k ON k.doc_a = c.doc_a AND k.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
        >= {JACCARD_THRESHOLD}
)
SELECT term, CAST(value AS BIGINT) AS value FROM (
  SELECT 'docs_total' AS term,
         (SELECT count(*) FROM documents) AS value
  UNION ALL SELECT 'gated_docs', (SELECT count(*) FROM sig)
  UNION ALL SELECT 'flagged_docs', (SELECT count(*) FROM flagged)
  UNION ALL SELECT 'kept_docs',
         (SELECT count(*) FROM documents)
         - (SELECT count(*) FROM flagged)
  UNION ALL SELECT 'full_pairs', (SELECT count(*) FROM verified)
  UNION ALL SELECT 'residual_pairs',
         (SELECT count(*) FROM verified
          WHERE doc_a NOT IN (SELECT doc_id FROM flagged)
            AND doc_b NOT IN (SELECT doc_id FROM flagged))
) ORDER BY term
"""


GATED_PIPELINE_SQL = _gated_pipeline_oracle_sql()


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Containment dedup (asymmetric near-dup: quote/subset detection)
# ---------------------------------------------------------------------------

# (containment constants live in the top constants block since r15 —
# the streaming gate oracle, defined earlier in the file, needs them)


@memoized_plan
def containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-duplicate pairs by SET CONTAINMENT,
    |A∩B| / min-side: the doc-contains-doc cases (a short document quoted
    whole inside a longer one, a page plus boilerplate) that Jaccard-LSH
    structurally misses — containment(A→B) = 1 can coexist with
    jaccard = |A|/|B| ≈ 0 when B is much longer. Production curation
    (quote/subset scrubbing) needs this as its own pass.

    Candidates bucket on CONTAIN_ANCHORS independent min-hash anchors
    (``perm_hash`` permutations of the shingle hash, min per doc — LSH
    bands at signature length 1). RECALL ENVELOPE, stated the way the ANN
    top-k queries state theirs: band i collides exactly when that
    permutation's argmin over A∪B lands in A∩B, which happens with
    probability J = jaccard(A, B), so
    ``P(candidate) = 1 - (1-J)^CONTAIN_ANCHORS``. A single anchor is the
    degenerate m=1 case whose recall IS the pair's jaccard — precisely the
    quantity asymmetric pairs are low on (a doc quoted whole inside a
    4×-longer page has J = 1/4: one anchor catches 25 %, m=3 catches
    1-(3/4)³ ≈ 58 %). The knob is CONTAIN_ANCHORS — recall multiplies at
    O(m) 8-byte keys/doc and m candidate exchanges, never corpus². The
    envelope governs which pairs SURFACE; every surfaced pair's values
    are exact (verified below), so the oracle replays the same anchors
    and stays value-hash exact. Anchor buckets larger than
    CONTAIN_BUCKET_CAP (a viral boilerplate string) are skipped per band
    — the SHINGLE_DF_CAP discipline; the cap is part of the declared
    semantics and the oracle replays it. Candidate pairs are deduped
    across bands, then verified EXACTLY against the staged shingle store
    (intersection volume = Σ|A| over candidates), and both directions'
    containment are emitted for pairs where either reaches CONTAIN_MIN.
    Doubles are single IEEE divisions of exact counts — exact value-hash
    oracle.

    Reference parity: no dedup surface in the reference engine
    (HaolingPu/MapReduce-Simulation) — LLM-pipeline extension tier,
    sibling of dedup_minhash_lsh (symmetric jaccard twin).

    Scale: three reads of the staged integer shingle parquet (sizes,
    anchors, verification join) — no raw text moves; the anchor build is
    ONE partial-agg exchange (m mins in one groupBy — map-side combine
    shrinks the shuffle to one row/doc, unlike a per-doc bottom-m window
    sort which would move every shingle row); candidate fan-out bounded
    by m·CAP² per bucket.
    """
    sh = staged_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    anchor = sh.groupBy("doc_id").agg(
        *[
            F.min(H.perm_hash(F.col("shingle"), i)).alias(f"a{i}")
            for i in range(CONTAIN_ANCHORS)
        ]
    )
    anchors = anchor.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"), F.col(f"a{i}").alias("bucket")
                    )
                    for i in range(CONTAIN_ANCHORS)
                ]
            )
        ).alias("x"),
    ).select("doc_id", "x.band", "x.bucket")
    ok = (
        anchors.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bn"))
        .where(F.col("bn") <= CONTAIN_BUCKET_CAP)
        .select("band", "bucket")
    )
    a = anchors.join(ok, ["band", "bucket"]).select(
        F.col("doc_id").alias("doc_a"), "band", "bucket"
    )
    b = anchors.join(ok, ["band", "bucket"]).select(
        F.col("doc_id").alias("doc_b"), "band", "bucket"
    )
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()  # a pair caught by 2+ bands verifies once
    )
    inter = (
        cand.join(
            sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_inter").cast("long").alias("n_inter"),
            (
                F.col("n_inter").cast("double") / F.col("n_a").cast("double")
            ).alias("contain_a_in_b"),
            (
                F.col("n_inter").cast("double") / F.col("n_b").cast("double")
            ).alias("contain_b_in_a"),
        )
        .where(
            (F.col("contain_a_in_b") >= CONTAIN_MIN)
            | (F.col("contain_b_in_a") >= CONTAIN_MIN)
        )
    )


CONTAINMENT_DEDUP_SQL = f"""
WITH {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
anchor AS (
  SELECT doc_id,
         {", ".join(
             f"min({H.perm_hash_sql('shingle', i)}) AS a{i}"
             for i in range(CONTAIN_ANCHORS)
         )}
  FROM sh GROUP BY doc_id
),
anchors AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {i} AS band, a{i} AS bucket FROM anchor"
      for i in range(CONTAIN_ANCHORS)
  )}
),
ok AS (
  SELECT band, bucket FROM anchors GROUP BY band, bucket
  HAVING count(*) <= {CONTAIN_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM anchors a JOIN ok USING (band, bucket)
  JOIN anchors b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       CAST(sa.n AS BIGINT) AS n_a,
       CAST(sb.n AS BIGINT) AS n_b,
       CAST(i.n_inter AS BIGINT) AS n_inter,
       CAST(i.n_inter AS DOUBLE) / CAST(sa.n AS DOUBLE) AS contain_a_in_b,
       CAST(i.n_inter AS DOUBLE) / CAST(sb.n AS DOUBLE) AS contain_b_in_a
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.n AS DOUBLE) >= {CONTAIN_MIN}
   OR CAST(i.n_inter AS DOUBLE) / CAST(sb.n AS DOUBLE) >= {CONTAIN_MIN}
"""


AUDIT_PANE_CAP = 200  # fixed-size audit pane — corpus-independent cost
AUDIT_PERM = 7  # MINHASH_PERMS index for pane selection (disjoint from
#                 the CONTAIN_ANCHORS bands 0..2, so the pane draw can't
#                 correlate with the anchor collisions it audits)
AUDIT_J_FLOOR = 0.05  # pairs below this jaccard aren't audit-relevant
# Pair-seeded pane tier (r16): the uniform pane's qualifying-pair count
# falls as (pane/corpus)² — at sf0.1 it audited ONE pair, i.e. the
# measured recall came from an empty sample exactly where drift matters.
# Seeding additional pane members from m7-minhash buckets with ≥2 docs
# guarantees ≥1 shingle-sharing pair per chosen bucket (both docs contain
# the bucket's minimum shingle), keeping the audited-pair count roughly
# constant as the corpus grows. Selection uses perm 7 / reorder perm 11,
# both disjoint from the CONTAIN_ANCHORS perms 0..2 the audit verdicts.
AUDIT_PANE_BUCKETS = 192  # pair-seeded tier: m7 buckets with ≥2 docs
AUDIT_BUCKET_DOCS = 4  # docs kept per chosen bucket (smallest doc_ids)
AUDIT_ORDER_PERM = 11  # rehash for deterministic bucket choice


@memoized_plan
def containment_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall audit for the containment candidate stage — the
    production QA pass that turns containment_dedup's PAPER envelope
    (P(candidate) = 1-(1-J)^CONTAIN_ANCHORS) into a per-corpus MEASURED
    table, the way real pipelines periodically audit their LSH recall on
    a sample instead of trusting the formula across corpus drift.

    Pane: the union of two deterministic, fixed-size tiers — (1) the
    AUDIT_PANE_CAP documents with the smallest
    ``perm_hash(doc_id, AUDIT_PERM)`` (tie-broken on doc_id), a uniform
    draw whose J-distribution is unbiased; (2) a PAIR-SEEDED tier (r16):
    all docs (≤ AUDIT_BUCKET_DOCS each, smallest doc_ids) from the first
    AUDIT_PANE_BUCKETS m7-signature buckets holding ≥2 docs, ordered by
    ``perm_hash(m7, AUDIT_ORDER_PERM)``. Tier 2 exists because the
    uniform tier's qualifying-pair count collapses as (pane/corpus)² —
    at sf0.1 it yielded ONE audited pair; two docs sharing their m7
    minimum share ≥1 shingle by construction, so tier 2 guarantees ≥1
    ground-truth pair per chosen bucket at any corpus size. Selection
    uses perms 7/11 only, disjoint from the CONTAIN_ANCHORS perms 0..2
    being audited, and each output row carries its own ``jaccard``, so
    the per-pair caught-vs-predicted comparison stays valid under the
    J-shifted sample (the audit row count IS the audited-pair count —
    a near-empty audit is directly visible). Both tiers are FIXED size,
    so the audit's all-pairs term is pane²-bounded and independent of
    corpus size (a fixed FRACTION would re-grow quadratically with the
    corpus). Within the pane: exact ground truth from the staged shingle store (every
    pair sharing ≥1 shingle, true jaccard from full shingle sets), the
    anchor verdict from the SAME perm-hash minima containment_dedup
    buckets on, and the analytic prediction — per pair:
    ``bands_agree`` (how many of the m anchor bands collide), ``caught``
    (≥1 band — would the pair surface as a candidate), and ``predicted``
    (1-(1-J)^m, expanded as repeated IEEE multiplication, not libm
    pow(), so both engines produce the identical double). Audits the
    PROBABILISTIC stage only: the deterministic CONTAIN_BUCKET_CAP skip
    is corpus-level semantics pinned by its own tests, not re-applied
    inside the pane.

    Reference parity: no dedup surface in the reference engine
    (HaolingPu/MapReduce-Simulation) — LLM-pipeline extension tier, QA
    sibling of containment_dedup.

    Scale: pane selection is a top-k (TakeOrdered — no global sort
    materialization); everything after is pane-bounded (≤ CAP docs'
    shingles self-joined), so the audit costs the same at sf0.01 and at
    100 TB. Exact value-hash oracle.
    """
    m = CONTAIN_ANCHORS
    sh = staged_shingles(spark, sf_dir)
    # Pane universe = the documents table's doc_id column (pruned scan):
    # a top-k by the pane perm-hash is TakeOrdered (per-partition heads +
    # driver merge — NO exchange), where ranking over sh's distinct
    # doc_ids would cost a full doc_id exchange first. Shingle-less docs
    # (<3 tokens) can land in the pane; they contribute no pairs.
    uniform_pane = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", H.perm_hash(F.col("doc_id"), AUDIT_PERM).alias("ph")
        )
        .orderBy("ph", "doc_id")
        .limit(AUDIT_PANE_CAP)
        .select("doc_id")
    )
    # Pair-seeded tier: m7 comes from the staged signature table (an
    # offline artifact — no shingle re-aggregation); the bucket census is
    # one id-sized exchange keyed on m7, the bucket choice a TakeOrdered.
    sig7 = _staged_minhash_sig(spark, sf_dir).select("doc_id", "m7")
    chosen = (
        sig7.groupBy("m7")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 2)
        .select("m7", H.perm_hash(F.col("m7"), AUDIT_ORDER_PERM).alias("ord"))
        .orderBy("ord", "m7")
        .limit(AUDIT_PANE_BUCKETS)
        .select("m7")
    )
    seeded_pane = (
        sig7.join(F.broadcast(chosen), "m7")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("m7").orderBy("doc_id")
            ),
        )
        .where(F.col("rn") <= AUDIT_BUCKET_DOCS)
        .select("doc_id")
    )
    pane = uniform_pane.union(seeded_pane).distinct()
    # Broadcast the ≤CAP-row pane into the shingle scan: the full shingle
    # store is filtered in place, never shuffled — the audit's measured
    # shuffle is pane-sized (was 283k records / 2.8 MiB with a shuffled
    # pane join + corpus-wide sizes agg; pane-local everything after).
    psh = sh.join(F.broadcast(pane), "doc_id")
    sizes = psh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    anchor = psh.groupBy("doc_id").agg(
        *[
            F.min(H.perm_hash(F.col("shingle"), i)).alias(f"a{i}")
            for i in range(m)
        ]
    )
    pairs = (
        psh.alias("a")
        .join(psh.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    jp = (
        pairs.join(
            F.broadcast(
                sizes.select(
                    F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")
                )
            ),
            "doc_b",
        )
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= AUDIT_J_FLOOR)
    )
    agree = sum(
        (F.col(f"x{i}") == F.col(f"y{i}")).cast("long") for i in range(m)
    )
    miss = F.lit(1.0) - F.col("jaccard")
    predicted = F.lit(1.0) - _times(miss, m)
    return (
        jp.join(
            F.broadcast(
                anchor.select(
                    F.col("doc_id").alias("doc_a"),
                    *[F.col(f"a{i}").alias(f"x{i}") for i in range(m)],
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                anchor.select(
                    F.col("doc_id").alias("doc_b"),
                    *[F.col(f"a{i}").alias(f"y{i}") for i in range(m)],
                )
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_inter").cast("long").alias("n_inter"),
            "jaccard",
            agree.alias("bands_agree"),
            (agree >= 1).cast("long").alias("caught"),
            predicted.alias("predicted"),
        )
    )


def _times(col, k: int):
    """col multiplied by itself k times via repeated IEEE multiplication —
    the libm-free pow(col, k) both engines reproduce bit-for-bit."""
    out = col
    for _ in range(k - 1):
        out = out * col
    return out


def _audit_sql() -> str:
    m = CONTAIN_ANCHORS
    mins = ", ".join(
        f"min({H.perm_hash_sql('shingle', i)}) AS a{i}" for i in range(m)
    )
    agree = " + ".join(
        f"CAST(xa.a{i} = xb.a{i} AS BIGINT)" for i in range(m)
    )
    miss = "(1.0 - jp.jaccard)"
    predicted = "1.0 - " + " * ".join([miss] * m)
    return f"""
WITH {_SHINGLES_SQL},
uniform_pane AS (
  SELECT doc_id FROM documents
  ORDER BY {H.perm_hash_sql('doc_id', AUDIT_PERM)}, doc_id
  LIMIT {AUDIT_PANE_CAP}
),
sig7 AS (
  SELECT doc_id, min({H.perm_hash_sql('shingle', AUDIT_PERM)}) AS m7
  FROM sh GROUP BY doc_id
),
chosen AS (
  SELECT m7 FROM sig7 GROUP BY m7 HAVING count(*) >= 2
  ORDER BY {H.perm_hash_sql('m7', AUDIT_ORDER_PERM)}, m7
  LIMIT {AUDIT_PANE_BUCKETS}
),
seeded_pane AS (
  SELECT doc_id FROM (
    SELECT s.doc_id,
           row_number() OVER (PARTITION BY s.m7 ORDER BY s.doc_id) AS rn
    FROM sig7 s JOIN chosen USING (m7)
  ) WHERE rn <= {AUDIT_BUCKET_DOCS}
),
pane AS (
  SELECT doc_id FROM uniform_pane
  UNION
  SELECT doc_id FROM seeded_pane
),
psh AS (SELECT sh.doc_id, shingle FROM sh JOIN pane USING (doc_id)),
sizes AS (SELECT doc_id, count(*) AS n FROM psh GROUP BY doc_id),
anchor AS (SELECT doc_id, {mins} FROM psh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM psh a JOIN psh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jp AS (
  SELECT p.doc_a, p.doc_b, sa.n AS n_a, sb.n AS n_b, p.n_inter,
         CAST(p.n_inter AS DOUBLE)
           / CAST(sa.n + sb.n - p.n_inter AS DOUBLE) AS jaccard
  FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
  WHERE CAST(p.n_inter AS DOUBLE)
          / CAST(sa.n + sb.n - p.n_inter AS DOUBLE) >= {AUDIT_J_FLOOR}
)
SELECT jp.doc_a, jp.doc_b,
       CAST(jp.n_a AS BIGINT) AS n_a,
       CAST(jp.n_b AS BIGINT) AS n_b,
       CAST(jp.n_inter AS BIGINT) AS n_inter,
       jp.jaccard,
       {agree} AS bands_agree,
       CAST(({agree}) >= 1 AS BIGINT) AS caught,
       {predicted} AS predicted
FROM jp
JOIN anchor xa ON xa.doc_id = jp.doc_a
JOIN anchor xb ON xb.doc_id = jp.doc_b
"""


CONTAINMENT_RECALL_AUDIT_SQL = _audit_sql()


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 30-bit frequency-weighted sign fingerprint."""
    tok_cnt = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", H.char_hash(F.col("word")))
    )
    return _simhash_from_counts(tok_cnt)


def _staged_simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): the per-corpus simhash fingerprint table,
    COMPUTED ONCE from the staged tf index — tok_cnt IS the (doc_id, w,
    tf) inverted-index artifact, so the fingerprint build is a derivation
    of an already-staged table, like the BM25 doc-length twin. Integer
    columns — bitwise roundtrip; both sides of the banded self-join then
    read the parquet instead of re-running the 30-bit per-bit
    aggregation twice per query."""
    from .retrieval import _staged_tf_index

    def build() -> DataFrame:
        tok_cnt = _staged_tf_index(spark, sf_dir).select(
            "doc_id",
            F.col("w").alias("word"),
            F.col("tf").alias("cnt"),
        ).withColumn("h", H.char_hash(F.col("word")))
        return _simhash_from_counts(tok_cnt)

    return stage_once(spark, "simhash_fp_", f"{sf_dir}|ws_v1", "fp", build)


def _simhash_from_counts(tok_cnt: DataFrame) -> DataFrame:
    """Fingerprint tail shared by the generic and staged builders:
    (doc_id, word-count, word-hash) → per-bit signed sums → sign bits."""
    bit = F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit")
    per_bit = (
        tok_cnt.select("doc_id", "cnt", "h", bit)
        .groupBy("doc_id", "bit")
        .agg(
            F.sum(
                F.col("cnt")
                * (F.expr("(h >> bit) & 1") * 2 - 1)
            ).alias("s")
        )
    )
    return per_bit.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("CAST(1 AS BIGINT) << bit")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash")
    )


@memoized_plan
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with simhash hamming distance ≤ 3, via 4-band join
    (8+8+8+6 bits). Pigeonhole makes the banded join complete for ≤ 3 bit
    flips, so this equals the exhaustive hamming scan the oracle runs."""
    fp = _staged_simhash_fp(spark, sf_dir)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(
                    f"(simhash >> {b * SIMHASH_BAND_BITS}) & "
                    f"{(1 << SIMHASH_BAND_BITS) - 1}"
                ).alias("key"),
            )
            for b in range(4)
        ]
    )
    banded = fp.select("doc_id", "simhash", F.explode(bands).alias("bk")).select(
        "doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").cast("long").alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= HAMMING_MAX)
        .orderBy("doc_a", "doc_b")
    )


DEDUP_SIMHASH_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
  FROM documents
),
tok_cnt AS (
  SELECT doc_id, word, count(*) AS cnt,
         {H.char_hash_sql('word')} AS h
  FROM (SELECT doc_id, unnest(ts) AS word FROM tok)
  GROUP BY doc_id, word
),
per_bit AS (
  SELECT doc_id, bit, sum(cnt * (((h >> bit) & 1) * 2 - 1)) AS s
  FROM tok_cnt,
       (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS bit) bits
  GROUP BY doc_id, bit
),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END)::BIGINT
           AS simhash
  FROM per_bit GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the pair graph
# ---------------------------------------------------------------------------

MAX_CC_ITERATIONS = 20


def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment from pairwise near-dups: connected components of
    the exhaustive 3-gram-jaccard graph by iterative min-label propagation
    (each doc's component = smallest doc_id reachable through near-dup
    edges; singletons keep their own id). This is the step that turns "A≈B,
    B≈C" into one keep-or-drop group — the iterative-algorithm shape the
    engine must support beyond single-pass SQL.

    Execution notes:
      - the pair list comes from the per-corpus staged parquet
        (``staged_near_dup_pairs``) — built once per process and shared
        with the stars/canonical/incremental consumers; the edge list is
        materialized with ``localCheckpoint`` (NOT ``persist``): a
        ``union`` whose branches sit on a cached AQE frame bypasses the
        cache and re-runs the subtree — measured 7.2 s for the symmetric
        union over a persisted 256-row pair list vs 0.76 s over its
        checkpoint at sf0.1/local[32]. Checkpointing/staging physically
        truncates the plan, so every downstream job starts from the
        materialized rows;
      - the iteration state covers ONLY nodes with at least one near-dup
        edge; singletons (the overwhelming corpus majority — 4523 of 5000
        docs at sf0.1) never enter the loop and are appended once at the
        end via an anti-join. At 100 TB the per-round shuffle is then
        proportional to the near-dup graph, not the corpus;
      - each iteration is one join + one grouped min + a narrow least();
        no union touches the loop state, so each round reads the previous
        round's checkpoint directly. Rounds needed = graph diameter
        (near-dup clusters are shallow — a handful);
      - convergence is checked with a count of changed labels (an O(1)
        driver scalar, not a data collect). The fixpoint is unique
        (min-label), so iteration order cannot change the result — which
        is why a DuckDB recursive CTE can serve as the exact oracle.
    """
    docs_full = load_table(spark, sf_dir, "documents")
    docs = docs_full.select("doc_id")
    # Staged parquet scan (see staged_near_dup_pairs): plan-truncated at
    # the source, so the symmetric union re-reads files, not the build.
    pairs = staged_near_dup_pairs(spark, sf_dir, docs_full)
    edges = (
        pairs.union(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .distinct()
        .localCheckpoint()
    )
    touched = edges.select("doc_a").distinct()
    # Iteration 0 folded into initialization: comp = min(self, direct
    # neighbors) from one grouped min over the edge list — identical to
    # starting from comp = self and running one propagation round, so the
    # loop below needs one fewer join+checkpoint+count round to reach the
    # same fixpoint.
    labels = (
        edges.groupBy("doc_a")
        .agg(F.min("doc_b").alias("nbmin"))
        .select(
            F.col("doc_a").alias("doc_id"),
            F.least("doc_a", "nbmin").alias("comp"),
        )
        .localCheckpoint()
    )
    changed = -1
    for _ in range(MAX_CC_ITERATIONS):
        nbmin = (
            edges.join(labels, edges["doc_b"] == labels["doc_id"])
            .groupBy("doc_a")
            .agg(F.min("comp").alias("nb"))
            .withColumnRenamed("doc_a", "doc_id")
        )
        stepped = (
            labels.join(nbmin, "doc_id", "left")
            .select(
                "doc_id",
                "comp",
                F.least("comp", F.coalesce("nb", "comp")).alias("ncomp"),
            )
            .localCheckpoint()
        )
        changed = stepped.where(F.col("ncomp") != F.col("comp")).count()
        labels = stepped.select("doc_id", F.col("ncomp").alias("comp"))
        if changed == 0:
            break
    if changed != 0:
        # Returning partial labels would silently diverge from the
        # recursive-CTE oracle (which always reaches the fixpoint) — fail
        # loudly instead. A graph deep enough to hit this wants
        # pointer-doubling (O(log diameter) rounds), not a bigger cap.
        raise RuntimeError(
            f"connected components did not converge within "
            f"{MAX_CC_ITERATIONS} iterations ({changed} labels still "
            f"changing); the near-dup graph diameter exceeds the cap"
        )
    singles = docs.join(
        touched.withColumnRenamed("doc_a", "doc_id"), "doc_id", "left_anti"
    ).select("doc_id", F.col("doc_id").alias("comp"))
    all_labels = labels.unionByName(singles)
    return (
        all_labels.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .join(all_labels, "comp")
        .select(
            "doc_id",
            F.col("comp").alias("component_id"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


CC_STAR_MAX_ROUNDS = 12


def _cc_star_labels(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log² n)-round sibling of min-label propagation, for graphs whose
    diameter makes O(diameter) rounds intractable (long near-dup chains).

    Each round is two grouped-min joins:
      large-star: every node u attaches its LARGER neighbors to
        m = min(neighbors(u) ∪ {u});
      small-star: u attaches its smaller neighbors, and itself, to the min
        of its SMALLER neighborhood ∪ {u}.
    Both preserve connectivity and only ever link nodes to smaller labels
    in their own component; at the fixpoint the graph is a union of stars
    centered at component minima, so each node's label is
    min(neighbor ∪ self) — identical to the propagation fixpoint, which is
    why the same recursive-CTE oracle applies.

    ``nodes``: (doc_id); ``pairs``: (doc_a, doc_b) undirected edges.
    Returns (doc_id, comp); singletons keep their own id.
    """

    def symmetric(e: DataFrame) -> DataFrame:
        return (
            e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    # Each round's plan references the prior round's output several times
    # (symmetric() alone reads its input twice), so lineage grows
    # exponentially with rounds; localCheckpoint truncates the plan to the
    # materialized partitions each round — the standard shape for iterative
    # DataFrame algorithms (on a cluster, executor loss costs a recompute
    # from the checkpoint, acceptable for a log-round loop).
    edges = symmetric(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    ).localCheckpoint()
    for _ in range(CC_STAR_MAX_ROUNDS):
        # large-star: m over the full neighborhood, larger neighbors move
        mins = edges.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("u"), F.col("mn"))
        large = (
            edges.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
        )
        mid = symmetric(large).localCheckpoint()
        # small-star: m over the SMALL neighborhood ∪ self; smaller
        # neighbors and u itself move
        smins = (
            mid.where(F.col("v") < F.col("u"))
            .groupBy("u")
            .agg(F.min("v").alias("mn"))
        )
        sm = F.least(F.col("u"), F.col("mn"))
        joined = mid.join(smins, "u")
        small = (
            joined.where(F.col("v") < F.col("u"))
            .select(F.col("v").alias("u"), sm.alias("v"))
            .union(joined.select("u", sm.alias("v")))
        )
        new_edges = symmetric(small).localCheckpoint()
        done = (
            new_edges.count() == edges.count()
            and new_edges.exceptAll(edges).count() == 0
        )
        edges = new_edges
        if done:
            break
    else:
        raise RuntimeError(
            f"star contraction did not converge within "
            f"{CC_STAR_MAX_ROUNDS} rounds"
        )
    comp = edges.groupBy("u").agg(F.min("v").alias("mn")).select(
        F.col("u").alias("doc_id"),
        F.least(F.col("u"), F.col("mn")).alias("comp"),
    )
    return (
        nodes.join(comp, "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("comp"), F.col("doc_id")).alias("comp")
        )
    )


def dedup_connected_components_stars(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The adversarial-scale twin of `dedup_connected_components`: same
    near-dup graph, same output contract and oracle, but clustering by
    star contraction (O(log² n) rounds) instead of min-label propagation
    (O(diameter) rounds) — the variant that survives a pathological chain
    of pairwise near-dups at 100 TB."""
    docs_full = load_table(spark, sf_dir, "documents")
    docs = docs_full.select("doc_id")
    # symmetric() inside _cc_star_labels unions over the pair list — the
    # staged parquet scan is plan-truncated, so the union re-reads files
    # (see staged_near_dup_pairs).
    pairs = staged_near_dup_pairs(spark, sf_dir, docs_full)
    labels = _cc_star_labels(docs, pairs)
    return (
        labels.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .join(labels, "comp")
        .select("doc_id", F.col("comp").alias("component_id"), "cluster_size")
        .orderBy("doc_id")
    )


# Shared DuckDB CTE chain: near-dup graph → recursive reachability →
# per-doc component labels. Used by the CC oracles and by downstream
# cluster-level operators (canonical selection).
_CC_GRAPH_SQL = f"""{_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
        >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
comps AS (
  SELECT doc_id, min(r) AS component_id FROM reach GROUP BY doc_id
)"""

DEDUP_CC_SQL = f"""
WITH RECURSIVE {_CC_GRAPH_SQL}
SELECT c.doc_id, c.component_id, s.cluster_size
FROM comps c
JOIN (SELECT component_id, count(*) AS cluster_size
      FROM comps GROUP BY component_id) s USING (component_id)
ORDER BY c.doc_id
"""


def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the step that turns cluster labels
    into an actual dedup decision: within each near-dup component, keep
    the highest-quality member (composite quality score from
    operators/text.py; ties broken by lowest doc_id) and flag the rest for
    drop. This is the "pick the best representative" reduce the reference
    could only express as a user reduce executable (reference
    worker/__main__.py runs arbitrary reducers); here it is declarative:
    component labels (star-contraction CC, the O(log² n)-round scale path)
    joined to per-doc quality, one row_number window per component.

    Scale: reuses `_cc_star_labels` (edges/labels only — never text) and
    the pure-JVM quality expression; the final ranking is one shuffle on
    component_id with a WindowGroupLimit-able rank. Output keeps every doc
    with its keep/drop verdict so downstream stages can filter or audit.
    """
    from .text import quality_score

    docs_full = load_table(spark, sf_dir, "documents")
    # Staged parquet scan — plan-truncated, so _cc_star_labels' unions
    # re-read files instead of re-running the pair build.
    pairs = staged_near_dup_pairs(spark, sf_dir, docs_full)
    labels = _cc_star_labels(docs_full.select("doc_id"), pairs)
    quality = quality_score(spark, sf_dir)
    w = Window.partitionBy("component_id").orderBy(
        F.desc_nulls_last("quality"), F.asc("doc_id")
    )
    return (
        labels.join(quality, "doc_id")
        .select(
            "doc_id",
            F.col("comp").alias("component_id"),
            "quality",
        )
        .withColumn("keep", F.row_number().over(w) == 1)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs an existing reference corpus
# ---------------------------------------------------------------------------

def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup an INCOMING batch against an ALREADY-INGESTED reference corpus
    — the asymmetric shape every production pipeline actually runs (a new
    crawl is deduped against the training set, not against itself). The
    deterministic split here: even doc_ids are the reference corpus, odd
    ids the incoming batch. Each new document gets a verdict:

      exact_dup  its content fingerprint matches some reference doc;
      near_dup   3-gram jaccard ≥ 0.5 with some reference doc;
      clean      neither.

    plus matched_ref = the smallest matching reference id (exact match
    preferred), NULL for clean.

    Scale: the exact pass is an 8-byte fingerprint equi-join (the
    reference side's fingerprint index is what a real pipeline keeps
    materialized between ingests). The near pass reuses the provably
    complete bounded pair builder and keeps only batch↔reference
    crossings; at 100 TB the restriction moves INTO the candidate join
    (index side = reference shingles, probe side = batch shingles), so
    batch↔batch and reference↔reference pair work never happens — the
    symmetric builder is reused here because at test scale the shared
    subtree costs less than a second asymmetric code path.
    """
    docs_full = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 2 == 1
    fp = H.char_hash(F.col("text")).alias("fp")
    new_fp = docs_full.where(is_new).select(
        F.col("doc_id").alias("new_id"), fp
    )
    ref_fp = docs_full.where(~is_new).select(
        F.col("doc_id").alias("ref_id"), fp
    )
    exact = (
        new_fp.join(ref_fp, "fp")
        .groupBy("new_id")
        .agg(F.min("ref_id").alias("exact_ref"))
    )
    pairs = staged_near_dup_pairs(spark, sf_dir, docs_full)
    crossing = pairs.where(
        (F.col("doc_a") % 2) != (F.col("doc_b") % 2)
    ).select(
        F.when(F.col("doc_a") % 2 == 1, F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("new_id"),
        F.when(F.col("doc_a") % 2 == 0, F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("ref_id"),
    )
    near = crossing.groupBy("new_id").agg(F.min("ref_id").alias("near_ref"))
    return (
        docs_full.where(is_new)
        .select(F.col("doc_id").alias("new_id"))
        .join(exact, "new_id", "left")
        .join(near, "new_id", "left")
        .select(
            F.col("new_id").alias("doc_id"),
            F.when(F.col("exact_ref").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_ref").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("clean"))
            .alias("verdict"),
            F.coalesce("exact_ref", "near_ref").alias("matched_ref"),
        )
        .orderBy("doc_id")
    )


INCREMENTAL_DEDUP_SQL = f"""
WITH {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
        >= {JACCARD_THRESHOLD}
),
fps AS (
  SELECT doc_id, {H.char_hash_sql('text')} AS fp FROM documents
),
exact AS (
  SELECT n.doc_id AS new_id, min(r.doc_id) AS exact_ref
  FROM fps n JOIN fps r ON n.fp = r.fp
  WHERE n.doc_id % 2 = 1 AND r.doc_id % 2 = 0
  GROUP BY 1
),
crossing AS (
  SELECT CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END AS new_id,
         CASE WHEN doc_a % 2 = 0 THEN doc_a ELSE doc_b END AS ref_id
  FROM pairs
  WHERE doc_a % 2 <> doc_b % 2
),
near AS (
  SELECT new_id, min(ref_id) AS near_ref FROM crossing GROUP BY new_id
)
SELECT d.doc_id,
       CASE WHEN e.exact_ref IS NOT NULL THEN 'exact_dup'
            WHEN n.near_ref IS NOT NULL THEN 'near_dup'
            ELSE 'clean' END AS verdict,
       coalesce(e.exact_ref, n.near_ref) AS matched_ref
FROM documents d
LEFT JOIN exact e ON e.new_id = d.doc_id
LEFT JOIN near n ON n.new_id = d.doc_id
WHERE d.doc_id % 2 = 1
ORDER BY d.doc_id
"""
