"""Property-based tests (hypothesis) for the reference-contract pure
functions — the line/KV parsing and placement-hash semantics that every
pipe operator rests on. The reference pins these behaviors in code
(worker/__main__.py:62-65 hash, :182-184 key split); here they are pinned
as properties over arbitrary inputs instead of a handful of examples."""

from __future__ import annotations

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st

from mapreduce_simulation_spark.operators.pipe import _md5_mod, _md5_mod_col
from mapreduce_simulation_spark.sources.text_dir import as_kv

# Text without newlines (a "line" by construction); tabs allowed. Lone
# surrogates are excluded (category Cs): reference keys come from decoded
# UTF-8 file bytes, where unpaired surrogates cannot occur — hypothesis
# correctly flagged them as outside the encodable domain.
line_text = st.text(
    alphabet=st.characters(
        exclude_characters="\n\r", exclude_categories=["Cs"]
    ),
    max_size=200,
)


@given(st.lists(line_text, max_size=50))
@settings(max_examples=60, deadline=None)
def test_split_kv_matches_reference_partition_semantics(spark, lines):
    """as_kv (the engine's only key/value splitter) must give key =
    line.partition('\\t')[0] and value = the remainder — the reference's
    exact rule, including the no-tab ('' value) and leading-tab ('' key)
    edges, which every batch carries. One Spark job per batch."""
    lines = [*lines, "no tab", "\tleading tab", "two\ttabs\there"]
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    got = [(r.key, r.value) for r in as_kv(df).collect()]
    want = [(head, tail) for head, _, tail in (ln.partition("\t") for ln in lines)]
    assert got == want


@given(line_text, st.integers(min_value=1, max_value=1000))
@settings(max_examples=300, deadline=None)
def test_md5_mod_range_and_stability(key, n):
    """Placement hash lands in [0, n) and is a pure function of the key
    bytes (the property task reassignment relies on: replaying a task
    re-creates identical partition files)."""
    p = _md5_mod(key, n)
    assert 0 <= p < n
    assert p == _md5_mod(key, n)
    assert p == int(hashlib.md5(key.encode("utf-8")).hexdigest(), 16) % n


@given(
    st.lists(line_text, min_size=1, max_size=50),
    st.one_of(st.integers(min_value=1, max_value=1000), st.just(2**31 - 1)),
)
@settings(max_examples=60, deadline=None)
def test_md5_mod_column_matches_reference_hash(spark, keys, n):
    """The JVM placement column pipe_reduce shuffles on equals the
    reference statement _md5_mod for every key, up to n = 2**31 - 1 (its
    Horner steps must fit a long). One Spark job per batch."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(k,) for k in keys], "key string")
    placed = df.select(_md5_mod_col(F.col("key"), n).alias("p"))
    assert [r.p for r in placed.collect()] == [_md5_mod(k, n) for k in keys]


@given(st.lists(line_text, max_size=50), st.integers(min_value=1, max_value=8))
@settings(max_examples=100, deadline=None)
def test_md5_mod_partitions_form_a_partition(keys, n):
    """Routing a set of keys never loses or duplicates a key across
    partition buckets (total function, disjoint by construction)."""
    buckets: dict[int, list[str]] = {}
    for k in keys:
        buckets.setdefault(_md5_mod(k, n), []).append(k)
    flat = [k for b in buckets.values() for k in b]
    assert sorted(flat) == sorted(keys)


# ---------------------------------------------------------------------------
# Misra-Gries two-pass invariants (round 11): over ARBITRARY streams and
# ARBITRARY partition/batch splits, the per-partition sketch union must be
# a superset of the true heavy hitters and merged counts must respect the
# lower-bound window — the property the exact two-pass heavy_hitters_sketch
# query stands on.
# ---------------------------------------------------------------------------

words = st.lists(
    st.sampled_from([f"w{i}" for i in range(12)]), min_size=1, max_size=400
)
splits = st.lists(st.integers(min_value=1, max_value=5), max_size=6)


@given(words, splits, st.integers(min_value=2, max_value=8))
@settings(max_examples=300, deadline=None)
def test_mg_two_pass_recovers_exact_heavy_hitters(stream, cuts, capacity):
    from collections import Counter

    from mapreduce_simulation_spark.operators.pandas_ops import mg_add_batch

    # split the stream into partitions, each into batches, at arbitrary
    # points derived from the generated cut sizes
    parts: list[list[list[str]]] = []
    rest = list(stream)
    for c in cuts:
        take, rest = rest[: c * 7], rest[c * 7 :]
        if take:
            # sub-split the partition into `c` batches
            step = max(1, len(take) // c)
            parts.append([take[i : i + step] for i in range(0, len(take), step)])
    if rest:
        parts.append([rest])

    exact = Counter(stream)
    n = sum(exact.values())

    merged: Counter = Counter()
    candidates: set[str] = set()
    for batches in parts:
        counters: dict[str, int] = {}
        for b in batches:
            counters = mg_add_batch(counters, dict(Counter(b)), capacity)
        candidates |= set(counters)
        merged.update(counters)

    # superset property: every true heavy hitter survives some partition
    hh = {w for w, c in exact.items() if c * capacity >= n}
    assert hh <= candidates, (hh - candidates, capacity, n)

    # merged lower-bound window: count <= exact, undercount < N/(cap+1)·#parts
    # (each partition contributes at most N_p/(capacity+1) undercount)
    for w, c in merged.items():
        assert c <= exact[w]
        assert exact[w] - c <= n / (capacity + 1) + 1e-9

    # the two-pass OUTPUT (exact recount of candidates, thresholded) is
    # exactly the true heavy-hitter set — partition-split-independent
    out = {w: exact[w] for w in candidates if exact[w] * capacity >= n}
    assert out == {w: exact[w] for w in hh}


# ---------------------------------------------------------------------------
# Two-phase sweep decomposition (round 11 advice follow-through): for any
# point multiset and any bucketing of the time axis, local running sums
# plus per-bucket carry-ins must reproduce the global running maximum —
# the exactness argument event_peak_concurrency's distributed form rests on.
# ---------------------------------------------------------------------------

points = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=999),  # ts
        st.sampled_from([1, -1]),  # delta
    ),
    min_size=1,
    max_size=200,
)


@given(points, st.integers(min_value=1, max_value=100))
@settings(max_examples=300, deadline=None)
def test_two_phase_prefix_sum_equals_global_sweep(pts, bucket_width):
    # global sweep: RANGE-frame semantics — ties on (ts, delta) are peers
    # and share one cumulative value, so sort by (ts, delta) and take the
    # running sum at each group boundary
    pts_sorted = sorted(pts)
    run, best_global = 0, None
    i = 0
    while i < len(pts_sorted):
        j = i
        while j < len(pts_sorted) and pts_sorted[j] == pts_sorted[i]:
            run += pts_sorted[j][1]
            j += 1
        best_global = run if best_global is None else max(best_global, run)
        i = j

    # two-phase: bucket by ts // width; local running sums; carry-in =
    # prefix sum of earlier buckets' totals
    from collections import defaultdict

    buckets: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for ts, d in pts:
        buckets[ts // bucket_width].append((ts, d))
    carry, best_two = 0, None
    for b in sorted(buckets):
        local = sorted(buckets[b])
        run_l, i = 0, 0
        while i < len(local):
            j = i
            while j < len(local) and local[j] == local[i]:
                run_l += local[j][1]
                j += 1
            v = run_l + carry
            best_two = v if best_two is None else max(best_two, v)
            i = j
        carry += sum(d for _, d in local)
    assert best_two == best_global
