"""staging.memo: plan memoization with auto-recorded sources.

The memo may only serve a cached plan while every source its build read
still has the signature it was read at; a fixture overwrite must rebuild,
nested memo hits must replay their sources into the enclosing recording,
and every memoized registry query must be memoized with its sources.
"""

import os

from pyspark.sql import functions as F


def _write(spark, path, rows):
    spark.createDataFrame(rows, "k int, v int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def test_memo_hits_and_invalidates_on_rewrite(spark, tmp_path):
    from mapreduce_simulation_spark import staging
    from mapreduce_simulation_spark.staging import read_staged

    path = str(tmp_path / "art")
    _write(spark, path, [(1, 10), (2, 20)])
    builds = []

    def build():
        builds.append(1)
        return read_staged(spark, path).groupBy().agg(F.sum("v").alias("s"))

    key = ("test_memo", path)
    a = staging.memo(spark, key, build)
    b = staging.memo(spark, key, build)
    assert a is b and len(builds) == 1
    assert a.collect()[0].s == 30

    # overwrite the artifact: the dataset signature moves, read_staged
    # returns a new object, the memo must rebuild and see the new rows
    _write(spark, path, [(1, 100), (2, 200), (3, 300)])
    c = staging.memo(spark, key, build)
    assert c is not a and len(builds) == 2
    assert c.collect()[0].s == 600


def test_memo_invalidates_when_artifact_deleted(spark, tmp_path):
    import shutil

    from mapreduce_simulation_spark import staging
    from mapreduce_simulation_spark.staging import read_staged

    path = str(tmp_path / "art2")
    _write(spark, path, [(1, 1)])
    key = ("test_memo_del", path)
    staging.memo(spark, key, lambda: read_staged(spark, path))
    shutil.rmtree(path)
    _write(spark, path, [(1, 5), (2, 6)])
    df = staging.memo(spark, key, lambda: read_staged(spark, path))
    assert df.count() == 2


def test_nested_memo_hit_replays_deps(spark, tmp_path):
    from mapreduce_simulation_spark import staging
    from mapreduce_simulation_spark.staging import read_staged

    path = str(tmp_path / "art4")
    _write(spark, path, [(1, 2)])
    inner_builds, outer_builds = [], []

    def inner():
        inner_builds.append(1)
        return read_staged(spark, path)

    def outer():
        outer_builds.append(1)
        return staging.memo(spark, ("inner", path), inner).select("k")

    # prime the INNER memo so the outer build's only view of the artifact
    # is an inner memo HIT — the dep must still reach the outer recording
    staging.memo(spark, ("inner", path), inner)
    staging.memo(spark, ("outer", path), outer)
    assert (len(inner_builds), len(outer_builds)) == (1, 1)
    # rewrite: BOTH memos must rebuild (outer learned the dep by replay)
    _write(spark, path, [(1, 2), (3, 4)])
    out = staging.memo(spark, ("outer", path), outer)
    assert (len(inner_builds), len(outer_builds)) == (2, 2)
    assert out.count() == 2


def test_every_memoized_query_records_deps(spark, sf_dir):
    """A memo entry with ZERO recorded deps would never invalidate — every
    decorated registry query must be memoized after one call and record at
    least one source. Runs each decorated query builder once at the smoke
    SF and inspects the memo."""
    from mapreduce_simulation_spark import staging
    from mapreduce_simulation_spark.plans import registry

    qs = registry.queries()
    # detection: the decorator sets __wrapped__ via functools.wraps
    decorated = [
        (name, fn) for name, fn in qs.items() if hasattr(fn, "__wrapped__")
    ]
    assert decorated, "expected at least one memoized query"
    for name, fn in decorated:
        fn(spark, sf_dir)
        per_session = staging._PLANS.get(spark, {})
        key = (
            fn.__wrapped__.__module__,
            fn.__wrapped__.__qualname__,
            sf_dir,
        )
        entry = per_session.get(key)
        assert entry is not None, f"{name}: not memoized"
        assert entry[0], f"{name}: memoized with zero recorded deps"
    # the decorator check above only sees @memoized_plan queries; inline
    # staging.memo() users (brute_force_topk, ivf/pq serves, _lsh_serve,
    # ann_recall_audit, ...) land in the same per-session cache while the
    # registry runs — sweep EVERY entry so a zero-dep inline memo (which
    # could never invalidate) fails here too (ADVICE r17)
    for key, (deps, _df) in staging._PLANS.get(spark, {}).items():
        assert deps, f"memo entry {key}: zero recorded deps"


def test_training_shuffle_is_served_from_memo(spark, sf_dir, duck):
    """training_shuffle ranks through the in-plan distributed rank, so it
    persists nothing and is memoized like any plan: the second call is a
    memo hit, and the served plan still matches its oracle after the
    session's cache is cleared and the plan re-executes."""
    from mapreduce_simulation_spark.operators.curation import (
        TRAINING_SHUFFLE_SQL,
        training_shuffle,
    )

    first = training_shuffle(spark, sf_dir)
    want = [tuple(r) for r in duck.execute(TRAINING_SHUFFLE_SQL).fetchall()]
    assert [tuple(r) for r in first.collect()] == want
    second = training_shuffle(spark, sf_dir)
    assert second is first
    spark.catalog.clearCache()
    assert [tuple(r) for r in second.collect()] == want
