"""Equivalence guards for the round-7 plan rewrites.

Each rewrite replaced a shuffle-bearing formulation with a narrow
array-side one; these tests pin the NEW formulation against the OLD one
over an adversarial battery (empty/short lists, runs of equal tokens,
alternations, seeded pseudo-random data) so a future tweak to either
cannot silently drift. The oracle tests already check end results against
DuckDB; this layer localizes a break to the primitive that moved.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _token_battery() -> list[list[str]]:
    rng = random.Random(7)
    cases = [
        [],
        ["a"],
        ["a", "b"],
        ["a", "a"],
        ["a", "a", "a"],
        ["a", "a", "a", "a", "a"],
        ["a", "b", "a", "b", "a"],
        ["x", "y", "z"],
        ["the"] * 10,
    ]
    vocab = ["a", "b", "ab", "the", "x", "yz"]
    for n in range(3, 40, 3):
        cases.append([rng.choice(vocab) for _ in range(n)])
    return cases


def test_bigram_pairs_matches_lead_window(spark):
    """text.bigram_pairs (array zip) emits exactly the (w1, w2) multiset
    the posexplode + per-doc lead() window emitted, per document,
    including empty and 1-token docs (both yield nothing)."""
    from mapreduce_simulation_spark.operators.text import bigram_pairs

    rows = [Row(doc_id=i, ws=ws) for i, ws in enumerate(_token_battery())]
    df = spark.createDataFrame(rows, "doc_id long, ws array<string>")

    got = (
        df.select("doc_id", F.explode(bigram_pairs(F.col("ws"))).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
        .collect()
    )
    tok = df.select(
        "doc_id", F.posexplode("ws").alias("pos", "w1")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    want = (
        tok.withColumn("w2", F.lead("w1", 1).over(w))
        .where(F.col("w2").isNotNull())
        .select("doc_id", "w1", "w2")
        .collect()
    )
    key = lambda r: (r["doc_id"], r["w1"], r["w2"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))


@pytest.mark.parametrize(
    "lhs,rhs",
    [("a", "a"), ("a", "b"), ("b", "a"), ("t", "h"), ("th", "e")],
)
def test_bpe_fold_rule_matches_window_merge_step(spark, lhs, rhs):
    """_bpe_fold_rule (single aggregate fold) applies one merge rule with
    byte-identical greedy left-to-right semantics to _bpe_merge_step (the
    window formulation, kept as this reference) — runs of a self-pair
    merge at even offsets in both."""
    from mapreduce_simulation_spark.operators.curation import (
        _bpe_fold_rule,
        _bpe_merge_step,
    )

    words = [
        "a", "aa", "aaa", "aaaa", "aaaaa",
        "ab", "ba", "abab", "baba", "aabb",
        "the", "then", "that", "thth", "ethe",
        "xyzzy", "banana",
    ]
    rows = [Row(word=w, cnt=i + 1) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows, "word string, cnt long")

    chars = F.filter(F.split("word", ""), lambda c: c != "")
    got = {
        r["word"]: r["seq"]
        for r in df.select(
            "word", F.array_join(_bpe_fold_rule(chars, lhs, rhs), " ").alias("seq")
        ).collect()
    }
    seeded = df.select(
        "word",
        "cnt",
        F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 ")).alias("seq"),
    )
    want = {
        r["word"]: r["seq"]
        for r in _bpe_merge_step(seeded, lhs, rhs).collect()
    }
    assert got == want


def test_bpe_fold_rules_compose_like_sequential_steps(spark):
    """Nesting several folds equals applying the window step rule-by-rule —
    the multi-rule contract bpe_apply_merges relies on."""
    from mapreduce_simulation_spark.operators.curation import (
        _bpe_fold_rule,
        _bpe_merge_step,
    )

    rules = [("a", "a"), ("aa", "b"), ("t", "h"), ("th", "e")]
    words = ["aaab", "aaaab", "aabaab", "the", "ththe", "theethe", "banana"]
    df = spark.createDataFrame(
        [Row(word=w, cnt=1) for w in words], "word string, cnt long"
    )
    arr = F.filter(F.split("word", ""), lambda c: c != "")
    for lhs, rhs in rules:
        arr = _bpe_fold_rule(arr, lhs, rhs)
    got = {
        r["word"]: r["seq"]
        for r in df.select(
            "word", F.array_join(arr, " ").alias("seq")
        ).collect()
    }
    stepped = df.select(
        "word",
        "cnt",
        F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 ")).alias("seq"),
    )
    for lhs, rhs in rules:
        stepped = _bpe_merge_step(stepped, lhs, rhs).localCheckpoint()
    want = {r["word"]: r["seq"] for r in stepped.collect()}
    assert got == want
