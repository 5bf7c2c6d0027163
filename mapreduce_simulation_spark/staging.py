"""Process-lifetime staging directories, the stage-once helper that builds
per-corpus artifacts into them, the per-session DataFrame read cache shared
by ``tables.load_table`` and ``read_staged``, and the per-session plan memo.

The staged files must outlive the *builder* call — the returned DataFrame
or drained memory-sink table may be executed (or re-executed) by the
caller at any point afterwards — so the directories are removed at
interpreter exit rather than on return. Long-lived services embedding the
engine get bounded /tmp usage instead of a leak per query build.

Reads, staged artifacts and plans share one freshness rule: each entry
carries ``{source path: _file_sig}`` — the signature the read cache
validated when the source was served — and is reused only while every
recorded source still has that signature. Sources are recorded, not
declared: while an artifact or plan is built, every ``cached_read`` on
the building thread notes its path and signature into the active
recordings (:func:`recording`), and a hit replays its sources into any
enclosing recording, so nested builds compose.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import os
import shutil
import tempfile
import threading
import weakref
from typing import Callable

_DIRS: list[str] = []
_KEYED: dict[tuple[str, str], str] = {}
# committed artifact path → {source path: _file_sig} recorded by the
# artifact's build; an artifact without an entry is not committed
_SOURCES: dict[str, dict[str, tuple | None]] = {}


def staging_dir(prefix: str) -> str:
    """A mkdtemp directory that is removed when the process exits."""
    path = tempfile.mkdtemp(prefix=prefix)
    _DIRS.append(path)
    return path


def keyed_staging_dir(prefix: str, key: str) -> tuple[str, bool]:
    """A staging directory REUSED for the lifetime of the process when the
    same (prefix, key) is requested again. Returns (path, already_staged),
    already_staged being True when the directory was handed out before
    and still exists. Cleanup at exit as usual.

    For output roots that callers locate by key (the streaming delta
    logs). Artifacts derived from source data go through
    :func:`stage_once` instead, which commits a build only once it
    succeeded and rebuilds when a source changes."""
    k = (prefix, key)
    if k in _KEYED and os.path.isdir(_KEYED[k]):
        return _KEYED[k], True
    _KEYED[k] = staging_dir(prefix)
    return _KEYED[k], False


# Active recordings (innermost last), PER DRIVER THREAD: memoized builds
# can run on a structured-streaming foreachBatch thread (the _lsh_serve
# prepared plan) concurrently with main-thread builds, and a shared stack
# would cross-record sources between unrelated builds.
_TLS = threading.local()


def _recordings() -> list[dict[str, tuple | None]]:
    stack = getattr(_TLS, "stack", None)
    if stack is None:
        stack = _TLS.stack = []
    return stack


def note_dep(path: str, sig: tuple | None) -> None:
    """Record source ``path`` with signature ``sig`` into every active
    recording on this thread. No-op when nothing is being built."""
    for deps in _recordings():
        deps[path] = sig


@contextlib.contextmanager
def recording():
    """Record, into a fresh ``{path: sig}`` dict, the sources read on this
    thread while the block runs; enclosing recordings receive them too."""
    deps: dict[str, tuple | None] = {}
    stack = _recordings()
    stack.append(deps)
    try:
        yield deps
    finally:
        stack.pop()


def _fresh(deps: dict[str, tuple | None]) -> bool:
    """True when every recorded source still has its recorded signature;
    the sources are then replayed into any enclosing recording."""
    if any(_file_sig(path) != sig for path, sig in deps.items()):
        return False
    for path, sig in deps.items():
        note_dep(path, sig)
    return True


def stage_once_dir(
    prefix: str, key: str, name: str, write: Callable[[str], None]
) -> str:
    """The committed artifact ``name`` of the keyed dir (prefix, key), or
    the keyed dir itself when ``name`` is empty: ``write(dir)`` builds it
    once, and it is served while every source its build read is unchanged.

    A named artifact is written to ``_tmp_<name>`` and renamed into place,
    so several artifacts can share one keyed dir; an unnamed one is
    written into a fresh keyed dir. Either way it counts as committed only
    once ``write`` returned, so a failed build is rebuilt on the next call
    instead of being served half-written.

    Sources are recorded, not declared: every source the build reads
    through the read cache is stored with the signature it was served at,
    and when one of those signatures moves the artifact is rebuilt into a
    fresh keyed dir. The build must therefore read its inputs through the
    loaders, not close over frames loaded before the call. A hit replays
    the recorded sources into any enclosing recording, so a plan built
    over an already-staged artifact still invalidates when the corpus
    changes.

    Builds are assumed to run one at a time, on the thread that builds
    query plans: two concurrent builders of the same key would race on the
    shared ``_tmp_<name>`` dir."""
    k = (prefix, key)
    root = _KEYED.get(k)
    path = root and (os.path.join(root, name) if name else root)
    deps = _SOURCES.get(path)
    if deps is not None and os.path.isdir(path) and _fresh(deps):
        return path
    if not (name and root and os.path.isdir(root)) or os.path.exists(path):
        # unnamed, never staged, cleaned up or stale: a fresh keyed dir
        root = _KEYED[k] = staging_dir(prefix)
        path = os.path.join(root, name) if name else root
    with recording() as deps:
        if name:
            tmp = os.path.join(root, f"_tmp_{name}")
            shutil.rmtree(tmp, ignore_errors=True)
            write(tmp)
            os.rename(tmp, path)
        else:
            write(root)
    _SOURCES[path] = deps
    return path


def stage_once(spark, prefix: str, key: str, name: str, build: Callable):
    """:func:`stage_once_dir` for an artifact that is one DataFrame:
    ``build()`` is written as parquet, and the staged copy is served
    through :func:`read_staged`."""
    path = stage_once_dir(
        prefix,
        key,
        name,
        lambda tmp: build().write.mode("overwrite").parquet(tmp),
    )
    return read_staged(spark, path)


# ---------------------------------------------------------------------------
# Per-session DataFrame read cache
# ---------------------------------------------------------------------------

# Every ``spark.read.parquet`` call costs ~0.12-0.25 s of driver-side
# py4j + file-listing + footer-schema work, and every query build calls
# the loaders several times — a fixed plan-build floor (measured r14-r15
# while bisecting the similarity_topk_pandas and dedup_minhash_lsh
# builds). DataFrames are immutable logical plans, so reuse is safe; each
# entry carries the dataset's ``_file_sig`` so an overwrite (scale
# probes, staging rebuilds) re-reads instead of serving a stale FileIndex.
# ``useV1SourceList`` is in the key because V1-vs-V2 relation resolution
# happens at read time (metadata_agg_pushdown flips parquet to V2 for its
# footer aggregation — caught by test_plan_shapes when the cache first
# landed). Weak-keyed on the session so a stopped session's plans don't
# outlive it.
_READS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _dir_entries(path: str, depth: int) -> tuple:
    """(name, mtime_ns, size[, child entries]) per directory entry, sorted.
    ``depth`` levels of subdirectories are expanded so a partitioned
    dataset (partition dir → part files) is covered: an in-place
    same-name part rewrite nested under a partition dir moves neither the
    top-level dir mtime nor the partition dir's (mtime, size), so a
    depth-1 signature would serve a stale FileIndex for it (the depth-2
    twin of the flat-dataset gotcha below)."""
    try:
        entries = []
        for e in sorted(os.listdir(path)):
            child = os.path.join(path, e)
            try:
                est = os.stat(child)
            except OSError:
                entries.append((e, -1, -1))
                continue
            row = (e, est.st_mtime_ns, est.st_size)
            if depth > 1 and os.path.isdir(child):
                row = row + (_dir_entries(child, depth - 1),)
            entries.append(row)
        return tuple(entries)
    except OSError:
        return ()


def _file_sig(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    if os.path.isdir(path):
        # dataset dir: directory mtime only moves on create/delete/rename,
        # so an in-place rewrite of a part file that keeps its name would
        # slip past a names-only entry list — stat each entry and fold its
        # (mtime_ns, size) into the signature too, expanding two levels of
        # subdirectories (partition dir → part files) for partitioned
        # datasets served through this cache.
        return (st.st_mtime_ns, st.st_size, _dir_entries(path, depth=2))
    return (st.st_mtime_ns, st.st_size)


def evict_stopped_sessions(cache) -> None:
    """Drop cache entries whose SparkSession has been stopped.

    The cached DataFrame values strongly reference their session, so a
    weak-keyed entry alone can never be collected (the value keeps the
    key alive — the r15 ADVICE leak). Sessions are few, so a sweep per
    lookup is O(1) in practice; a stopped session's plans are unusable
    anyway, so dropping the whole per-session dict is always safe."""
    for s in list(cache.keys()):
        try:
            stopped = s.sparkContext._jsc is None
        except Exception:
            stopped = True
        if stopped:
            try:
                del cache[s]
            except KeyError:
                pass


def _v1list(spark) -> str:
    return spark.conf.get("spark.sql.sources.useV1SourceList", "")


def cached_read(spark, path: str, read: Callable):
    """The session's DataFrame for ``path``: the cached one while the
    path's signature is unchanged, else a fresh ``read()``. Either way the
    path is noted, with the signature it was served at, into the active
    recordings."""
    evict_stopped_sessions(_READS)
    sig = _file_sig(path)
    per_session = _READS.setdefault(spark, {})
    k = (path, _v1list(spark))
    hit = per_session.get(k)
    if hit is not None and sig is not None and hit[0] == sig:
        df = hit[1]
    else:
        df = read()
        per_session[k] = (sig, df)
    note_dep(path, sig)
    return df


def read_staged(spark, path: str):
    """``spark.read.parquet`` of a staged artifact through the per-session
    read cache."""
    return cached_read(spark, path, lambda: spark.read.parquet(path))


# ---------------------------------------------------------------------------
# Per-session plan memo
# ---------------------------------------------------------------------------

# Memo of constructed DataFrame PLANS (never results). Plan construction
# is pure driver-side py4j traffic — each higher-order function builds an
# unresolved lambda AST over several JVM round-trips, and the ANN
# serve/audit plans were measured at 0.2-2 s of socket chatter per call
# at sf0.1 (r17 cProfile: 5.6k py4j commands for one ann_recall_audit
# build). A production service builds a query plan once and re-executes
# it; the memo gives the repeated-call paths (micro-batch serves, the
# bench's repeat runs, the audit's per-variant sub-plans) the same shape.
# DataFrames are immutable logical plans, so reuse is safe; an entry is
# (recorded sources, plan) and is served while its sources are fresh.
# Every execution still scans the parquet inputs — nothing here persists
# rows. Functions whose CONSTRUCTION is the measured computation
# (training loops, streaming drains) must not be memoized.
_PLANS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def memo(spark, key: tuple, build: Callable):
    """The memoized plan for ``key`` while every source its build read is
    unchanged; otherwise ``build()`` under a fresh recording, memoized."""
    evict_stopped_sessions(_PLANS)
    per_session = _PLANS.setdefault(spark, {})
    hit = per_session.get(key)
    if hit is not None and _fresh(hit[0]):
        return hit[1]
    with recording() as deps:
        df = build()
    per_session[key] = (deps, df)
    return df


def forget_session(spark) -> int:
    """Drop every memoized plan for ``spark``; returns how many were
    dropped. For callers that must see a FROM-SCRATCH, unexecuted plan
    (the plan-shape tests: an already-executed memoized DataFrame prints
    its AQE final plan, whose materialized query stages inflate naive
    Exchange counts) — results are unaffected either way."""
    dropped = _PLANS.pop(spark, None)
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
    def wrapper(spark, sf_dir: str):
        return memo(
            spark,
            (fn.__module__, fn.__qualname__, sf_dir),
            lambda: fn(spark, sf_dir),
        )

    return wrapper


@atexit.register
def _cleanup() -> None:
    _KEYED.clear()
    _SOURCES.clear()
    while _DIRS:
        shutil.rmtree(_DIRS.pop(), ignore_errors=True)
