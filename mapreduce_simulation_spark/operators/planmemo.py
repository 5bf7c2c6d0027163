"""Per-session memo of constructed DataFrame PLANS (never results).

Plan construction is pure driver-side py4j traffic — each higher-order
function builds an unresolved lambda AST over several JVM round-trips, and
the ANN serve/audit plans were measured at 0.2-2 s of socket chatter per
call at sf0.1 (r17 cProfile: 5.6k py4j commands for one ann_recall_audit
build). A production service builds a query plan once and re-executes it;
these helpers give the repeated-call paths (micro-batch serves, the bench's
repeat runs, the audit's per-variant sub-plans) the same shape.

DataFrames are immutable logical plans, so reuse is safe — the
``staging.cached_read`` precedent (r14), one level up. Staleness is
guarded by OBJECT IDENTITY of the signature-guarded loader cache: while
a fixture or staged artifact is unchanged its loader returns the SAME
DataFrame object; an overwrite or re-stage moves the dataset signature,
the loader returns a NEW object, and the memoized plan is rebuilt (pinned
by test_streaming_lsh_serve_survives_index_restaging for the serve path
and tests/test_planmemo.py for the mechanism).

Dependencies are RECORDED, not declared: during a memoized build,
``tables.load_table`` and ``staging.read_staged`` report every DataFrame
they hand out (``note_dep``), so the dep list can never drift from what
the plan actually reads. A memo hit revalidates by re-invoking the same
loaders (cheap os.stat signature checks) and replays its deps into any
enclosing recording, so nested memoized builders compose (a
``staging.stage_once`` hit replays its build's sources the same way). A
build that touches ``caching.persist_tracked`` is TAINTED and never
memoized: tracked persists are released after each query, and a plan
embedding literals derived from a released range-partitioned persist (the
distributed-rank offsets) must be rebuilt per call.

Plans only, never results: every execution still scans the parquet inputs
— nothing here persists rows, so the bench's no-result-caching contract is
untouched. Functions whose CONSTRUCTION is the measured computation
(training loops, streaming drains) must not be memoized; this module is
for pure serve-plan builders.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import weakref
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


class _Frame:
    __slots__ = ("deps", "tainted")

    def __init__(self) -> None:
        self.deps: dict[tuple, object] = {}
        self.tainted = False


# Active recordings (innermost last), PER DRIVER THREAD: memoized builds
# can run on a structured-streaming foreachBatch thread (the _lsh_serve
# prepared plan) concurrently with main-thread builds, and a shared stack
# would cross-record deps/taint between unrelated frames (extra rebuilds
# or skipped memoization — never wrong results, but why risk it; ADVICE
# r17). thread-local makes the isolation mechanical.
_TLS = threading.local()


def _stack() -> list[_Frame]:
    frames = getattr(_TLS, "frames", None)
    if frames is None:
        frames = _TLS.frames = []
    return frames


def note_dep(spec: tuple, obj: object) -> None:
    """Record a loader output into every active recording on THIS thread.
    ``spec`` must be enough to re-invoke the loader: ("table", sf_dir,
    name) or ("staged", path). No-op when no memoized build is in
    progress."""
    for frame in _stack():
        frame.deps[spec] = obj


@contextlib.contextmanager
def recording():
    """Record, into a fresh frame, what loaders hand out on this thread
    while the block runs; enclosing recordings keep receiving it too."""
    frame = _Frame()
    frames = _stack()
    frames.append(frame)
    try:
        yield frame
    finally:
        frames.pop()


def taint() -> None:
    """Mark every active recording on this thread as non-memoizable (see
    module note on tracked persists). No-op outside a memoized build."""
    for frame in _stack():
        frame.tainted = True


def refetch(spark: SparkSession, spec: tuple) -> object:
    """Re-invoke the loader behind ``spec`` — returns the loader's current
    (signature-revalidated) DataFrame object."""
    if spec[0] == "table":
        from ..tables import load_table

        return load_table(spark, spec[1], spec[2])
    if spec[0] == "staged":
        from ..staging import read_staged

        return read_staged(spark, spec[1])
    raise KeyError(f"unknown dep spec {spec!r}")


def memo(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the memoized plan for ``key`` when every recorded dep's
    loader still returns the same object; otherwise run ``build`` under a
    fresh recording and memoize (unless the build was tainted)."""
    from ..staging import evict_stopped_sessions

    evict_stopped_sessions(_CACHE)
    per_session = _CACHE.setdefault(spark, {})
    hit = per_session.get(key)
    if hit is not None:
        specs, df = hit
        try:
            fresh = all(
                refetch(spark, spec) is obj for spec, obj in specs.items()
            )
        except Exception:  # loader raised (artifact gone) — rebuild
            fresh = False
        if fresh:
            # replay into any enclosing recording so nesting composes
            for spec, obj in specs.items():
                note_dep(spec, obj)
            return df
        del per_session[key]
    with recording() as frame:
        df = build()
    if not frame.tainted:
        per_session[key] = (frame.deps, df)
    return df


def forget_session(spark: SparkSession) -> int:
    """Drop every memoized plan for ``spark``; returns how many were
    dropped. For callers that must see a FROM-SCRATCH, unexecuted plan
    (the plan-shape tests: an already-executed memoized DataFrame prints
    its AQE final plan, whose materialized query stages inflate naive
    Exchange counts) — results are unaffected either way."""
    dropped = _CACHE.pop(spark, None)
    return len(dropped) if dropped else 0


def memoized_plan(fn: Callable) -> Callable:
    """Decorator form of :func:`memo` for ``(spark, sf_dir)`` query
    builders whose construction is pure serve-plan work (possibly
    including bounded, loader-guarded model collects — the staged-model
    pattern). Do NOT apply to training queries or streaming drains: their
    construction IS the measured computation.

    Memo keys are (module, qualname, sf_dir) only: module-level tunables a
    builder bakes into its plan (TOP_K, band widths, thresholds, ...) are
    assumed PROCESS-IMMUTABLE, which they are for the bench/verify/driver
    lifecycle (constants change between commits, i.e. between processes).
    A builder that is genuinely parameterized at runtime must fold the
    parameter into its own memo key via :func:`memo` — the pattern
    ``_lsh_serve`` uses with ``n_planes`` — or a runtime change (e.g. a
    test monkeypatching a constant) would be served a stale plan built
    with the old value (ADVICE r17)."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        return memo(
            spark,
            (fn.__module__, fn.__qualname__, sf_dir),
            lambda: fn(spark, sf_dir),
        )

    return wrapper
