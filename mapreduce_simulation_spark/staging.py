"""Process-lifetime staging directories, the stage-once helper that builds
per-corpus artifacts into them, and the per-session DataFrame read cache
shared by ``tables.load_table`` and ``read_staged``.

The staged files must outlive the *builder* call — the returned DataFrame
or drained memory-sink table may be executed (or re-executed) by the
caller at any point afterwards — so the directories are removed at
interpreter exit rather than on return. Long-lived services embedding the
engine get bounded /tmp usage instead of a leak per query build.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import weakref
from typing import Callable

_DIRS: list[str] = []
_KEYED: dict[tuple[str, str], str] = {}
# committed artifact path → {dep spec: _file_sig of its source} as recorded
# by the artifact's build; an artifact without an entry is not committed
_SOURCES: dict[str, dict[tuple, tuple | None]] = {}


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


def stage_once_dir(
    spark, prefix: str, key: str, name: str, write: Callable[[str], None]
) -> str:
    """The committed artifact ``name`` of the keyed dir (prefix, key), or
    the keyed dir itself when ``name`` is empty: ``write(dir)`` builds it
    once, and it is served while every source its build read is unchanged.

    A named artifact is written to ``_tmp_<name>`` and renamed into place,
    so several artifacts can share one keyed dir; an unnamed one is
    written into a fresh keyed dir. Either way it counts as committed only
    once ``write`` returned, so a failed build is rebuilt on the next call
    instead of being served half-written.

    Sources are recorded, not declared: every loader output the build
    receives (``planmemo.note_dep``) is stored with its ``_file_sig``, and
    when one of those signatures moves the artifact is rebuilt into a
    fresh keyed dir. The build must therefore read its inputs through the
    loaders, not close over frames loaded before the call. A hit replays
    the recorded sources into any enclosing plan-memo recording, exactly
    as the build would have noted them, so a plan built over an
    already-staged artifact still invalidates when the corpus changes.

    Builds are assumed to run one at a time, on the thread that builds
    query plans: two concurrent builders of the same key would race on the
    shared ``_tmp_<name>`` dir."""
    from .operators.planmemo import recording

    k = (prefix, key)
    root = _KEYED.get(k)
    path = root and (os.path.join(root, name) if name else root)
    deps = _SOURCES.get(path)
    if deps is not None and os.path.isdir(path):
        if all(_file_sig(_source_path(s)) == sig for s, sig in deps.items()):
            _replay(spark, deps)
            return path
    if not (name and root and os.path.isdir(root)) or os.path.exists(path):
        # unnamed, never staged, cleaned up or stale: a fresh keyed dir
        root = _KEYED[k] = staging_dir(prefix)
        path = os.path.join(root, name) if name else root
    with recording() as frame:
        if name:
            tmp = os.path.join(root, f"_tmp_{name}")
            shutil.rmtree(tmp, ignore_errors=True)
            write(tmp)
            os.rename(tmp, path)
        else:
            write(root)
    _SOURCES[path] = {s: _file_sig(_source_path(s)) for s in frame.deps}
    return path


def stage_once(spark, prefix: str, key: str, name: str, build: Callable):
    """:func:`stage_once_dir` for an artifact that is one DataFrame:
    ``build()`` is written as parquet, and the staged copy is served
    through :func:`read_staged`."""
    path = stage_once_dir(
        spark,
        prefix,
        key,
        name,
        lambda tmp: build().write.mode("overwrite").parquet(tmp),
    )
    return read_staged(spark, path)


def _source_path(spec: tuple) -> str:
    """The file or dataset dir behind a plan-memo dep spec."""
    if spec[0] == "staged":
        return spec[1]
    from .tables import table_path

    return table_path(spec[1], spec[2])


def _replay(spark, deps: dict) -> None:
    """Note each recorded source into the active plan-memo recordings with
    the DataFrame its loader currently serves: the session's cached one,
    else the loader's own (which notes itself)."""
    from .operators.planmemo import note_dep, refetch

    per_session = _READS.get(spark, {})
    v1list = _v1list(spark)
    for spec, sig in deps.items():
        hit = per_session.get((_source_path(spec), v1list))
        if hit is not None and hit[0] == sig:
            note_dep(spec, hit[1])
        else:
            refetch(spark, spec)


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
    path's signature is unchanged, else a fresh ``read()``."""
    evict_stopped_sessions(_READS)
    sig = _file_sig(path)
    per_session = _READS.setdefault(spark, {})
    k = (path, _v1list(spark))
    hit = per_session.get(k)
    if hit is not None and sig is not None and hit[0] == sig:
        return hit[1]
    df = read()
    per_session[k] = (sig, df)
    return df


def read_staged(spark, path: str):
    """``spark.read.parquet`` of a staged artifact through the per-session
    read cache, noted as a plan-memo dependency."""
    from .operators.planmemo import note_dep

    df = cached_read(spark, path, lambda: spark.read.parquet(path))
    note_dep(("staged", path), df)
    return df


@atexit.register
def _cleanup() -> None:
    _KEYED.clear()
    _SOURCES.clear()
    while _DIRS:
        shutil.rmtree(_DIRS.pop(), ignore_errors=True)
