"""The streaming-executable contract and text sources/sinks — end-to-end,
mirroring the reference's integration tests (real processes, golden
comparison; reference tests/test_integration_00..02.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mapreduce_simulation_spark.operators import pipe
from mapreduce_simulation_spark.plans import reference
from mapreduce_simulation_spark.sources import sinks, text_dir


def test_pipe_word_count_matches_native(spark, sf_dir):
    """Executable-pipeline word count == DataFrame word count (the
    reference's wordcount golden test, with the native plan as golden)."""
    native = {
        (r.word, r.cnt) for r in reference.word_count(spark, sf_dir).collect()
    }
    piped = {
        (r.word, r.cnt) for r in pipe.pipe_word_count(spark, sf_dir).collect()
    }
    assert piped == native


def test_grep_non_default_term(spark, sf_dir):
    """The parameterized grep must honor an arbitrary term (reference
    grep_map.py argv contract), both native and through the executable
    pipe path, agreeing with a direct DataFrame filter."""
    from mapreduce_simulation_spark.tables import load_table

    term = "data"
    expected = {
        r.text
        for r in load_table(spark, sf_dir, "documents")
        .where(F.lower(F.col("text")).contains(term))
        .collect()
    }
    assert expected, "term absent from corpus — test is vacuous"
    native = {r.text for r in reference.grep(spark, sf_dir, query=term).collect()}
    piped = {r.text for r in pipe.pipe_grep(spark, sf_dir, query=term).collect()}
    assert native == expected
    assert piped == expected


def test_pipe_map_identity(spark, sf_dir):
    """`cat` as mapper — the reference's identity-map memory test
    (tests/test_worker_11.py uses cat)."""
    from mapreduce_simulation_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("lang")).alias("line")
    )
    out = pipe.pipe_map(docs, "cat")
    rows = out.collect()
    assert len(rows) == docs.count()
    assert all(r.key.isdigit() for r in rows)


def test_pipe_reduce_groups_are_contiguous_per_partition(spark, sf_dir):
    """Reducer executables see sorted lines → contiguous key groups. Verify
    with an awk group-counter: each key appears in exactly one group in one
    partition."""
    kv = spark.createDataFrame(
        [(f"k{i % 7}", str(i)) for i in range(100)], "key string, value string"
    )
    # reducer that emits `key\t<group line count>` per contiguous group
    reducer = (
        "awk -F'\\t' '{ if ($1 != prev) { if (NR > 1) print prev \"\\t\" cnt; "
        "prev = $1; cnt = 0 } cnt += 1 } END { if (NR > 0) print prev \"\\t\" cnt }'"
    )
    out = pipe.pipe_reduce(kv, reducer, num_partitions=3).collect()
    # every key exactly once (contiguous within its partition) with full count
    assert sorted((r.key, int(r.value)) for r in out) == [
        (f"k{i}", 15 if i < 2 else 14) for i in range(7)
    ]


def test_pipe_reduce_sends_null_key_and_value_as_empty(spark):
    """A NULL key or value reaches the reducer as "" (``a\\t``,
    ``\\tx``), the way pipe_map sends a NULL line — never the text
    ``None``, and a NULL key must not fail placement."""
    kv = spark.createDataFrame([("a", None), (None, "x")], "key string, value string")
    out = pipe.pipe_reduce(kv, "cat", num_partitions=2).collect()
    assert sorted((r.key, r.value) for r in out) == [("", "x"), ("a", "")]


_LINES = [f"line{i}" for i in range(8)] + ["match"]


@pytest.mark.parametrize(
    "command, lines, expect",
    [
        # grep exits 1 in the partitions where nothing matches
        ("grep match", _LINES, ["match"]),
        ("sh -c 'cat; exit 3'", _LINES, _LINES),
        ("no-such-executable-here", _LINES, None),
        # trailing newlines are stripped before the one terminator
        ("cat", ["a\n\n", "b\n", None, "c"], ["a", "b", "", "c"]),
        # an output line also ends at a lone \r (Java's line reader)
        ("printf 'a\\rb\\n'", _LINES, ["a", "b"] * 4),
    ],
    ids=["grep-no-match", "nonzero-exit", "missing", "trailing-newlines", "lone-cr"],
)
def test_pipe_executable_contract(spark, command, lines, expect):
    """Exit codes are ignored except "cannot run" (126/127), as with the
    reference's unchecked Popen; input and output line rules, over 4
    partitions (one process each)."""
    df = spark.createDataFrame([(v,) for v in lines], "line string").repartition(4)
    out = pipe._pipe(df, command)
    if expect is None:
        with pytest.raises(Exception, match="status 127"):
            out.collect()
    else:
        assert sorted(r.value for r in out.collect()) == sorted(expect)


def test_md5_mod_partitioning_matches_reference_contract():
    """Frozen test vectors for the placement hash (md5(key) % n)."""
    import hashlib

    for key, n in [("apple", 4), ("", 4), ("1", 2), ("word", 8)]:
        expect = int(hashlib.md5(key.encode()).hexdigest(), 16) % n
        assert pipe._md5_mod(key, n) == expect


def test_text_dir_roundtrip(spark, tmp_path):
    """S1-S6 end-to-end: write part files, scan them back, same multiset."""
    df = spark.createDataFrame(
        [(f"key{i}", f"val{i}") for i in range(50)], "k string, v string"
    )
    out_dir = str(tmp_path / "out")
    sinks.write_part_files(df, out_dir, num_partitions=3, fmt="text")
    parts = [f for f in os.listdir(out_dir) if f.startswith("part-")]
    assert len(parts) == 3

    back = text_dir.read_text_dir(spark, out_dir)
    kv = text_dir.as_kv(back)
    assert {(r.key, r.value) for r in kv.collect()} == {
        (f"key{i}", f"val{i}") for i in range(50)
    }


def test_key_partitioned_sink_colocates_keys(spark, tmp_path):
    """All rows of one key land in one part file (reducer-output invariant)."""
    df = spark.createDataFrame(
        [(f"k{i % 5}", str(i)) for i in range(100)], "k string, v string"
    )
    out_dir = str(tmp_path / "keyed")
    sinks.write_part_files(
        df, out_dir, num_partitions=4, fmt="text", key_partitioned="k"
    )
    key_files: dict[str, set[str]] = {}
    for fname in os.listdir(out_dir):
        if not fname.startswith("part-"):
            continue
        with open(os.path.join(out_dir, fname)) as f:
            for line in f:
                key = line.split("\t", 1)[0]
                key_files.setdefault(key, set()).add(fname)
    assert key_files and all(len(files) == 1 for files in key_files.values())


def test_min_partitions_floor(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        (src / f"file{i:02d}").write_text("\n".join(f"line{i}-{j}" for j in range(10)))
    df = text_dir.read_text_dir(spark, str(src), min_partitions=6)
    assert df.rdd.getNumPartitions() >= 6
    assert df.count() == 30


def test_staging_dirs_removed_at_cleanup(tmp_path):
    """staging_dir registers directories for atexit removal; _cleanup
    removes every registered dir and empties the registry."""
    from mapreduce_simulation_spark import staging

    d1 = staging.staging_dir("staging_test_")
    d2 = staging.staging_dir("staging_test_")
    assert os.path.isdir(d1) and os.path.isdir(d2)
    staging._cleanup()
    assert not os.path.exists(d1) and not os.path.exists(d2)
    assert not staging._DIRS


def test_stage_once_dir_reuses_per_key_and_survives_cleanup():
    """stage_once_dir returns the SAME directory for a repeated
    (prefix, key) without rebuilding it, a fresh one per distinct key,
    and never hands out a path that a cleanup (or an external delete) has
    removed."""
    import os
    import shutil

    from mapreduce_simulation_spark import staging

    builds = []

    def write(path):
        builds.append(path)
        open(os.path.join(path, "marker"), "w").close()

    p1 = staging.stage_once_dir("keyed_test_", "sfA", "", write)
    assert builds == [p1] and os.path.isdir(p1)
    p2 = staging.stage_once_dir("keyed_test_", "sfA", "", write)
    assert p2 == p1 and len(builds) == 1
    p3 = staging.stage_once_dir("keyed_test_", "sfB", "", write)
    assert p3 != p1 and builds[-1] == p3
    # a deleted dir must be rebuilt, not served
    shutil.rmtree(p1)
    p4 = staging.stage_once_dir("keyed_test_", "sfA", "", write)
    assert builds[-1] == p4 and os.path.isfile(os.path.join(p4, "marker"))
    staging._cleanup()
    assert not os.path.exists(p4) and not os.path.exists(p3)
    # cleanup also forgets the keyed map: next request restages
    n = len(builds)
    p5 = staging.stage_once_dir("keyed_test_", "sfB", "", write)
    assert len(builds) == n + 1 and os.path.isdir(p5)


def test_kvtext_connector_roundtrip(spark, sf_dir, tmp_path):
    """The kvtext custom DataSource round-trips the reference's native
    format in both directions: write word counts as tab-separated part
    files (one per task, two-phase commit), read them back with the
    reader, and recover the exact multiset."""
    import os

    from mapreduce_simulation_spark.plans.registry import queries
    from mapreduce_simulation_spark.sources.kvtext import register_kvtext

    register_kvtext(spark)
    out = str(tmp_path / "wc_kv")
    wc = queries()["word_count"](spark, sf_dir)
    wc.repartition(4).write.format("kvtext").mode("overwrite").save(out)

    parts = sorted(f for f in os.listdir(out) if f.startswith("part-"))
    assert len(parts) == 4
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not any(f.endswith(".tmp") for f in os.listdir(out))

    back = (
        spark.read.format("kvtext")
        .load(out)
        .select("key", F.col("value").cast("long").alias("cnt"))
    )
    expect = {(r["word"], r["cnt"]) for r in wc.collect()}
    got = {(r["key"], r["cnt"]) for r in back.collect()}
    assert got == expect


def test_eventlog_stream_reader_offsets_and_reads(spark, sf_dir, tmp_path):
    """The streaming connector's offset contract, driven directly:
    latestOffset reports true availability and grows when files are
    appended (log tailing), partitions(start, end) maps exactly the
    offset span, reading every partition recovers the staged table, and
    the append-only contract (new files must sort after indexed ones)
    fails loudly when violated."""
    import os
    import shutil

    import pyarrow as pa
    import pytest as _pytest

    from mapreduce_simulation_spark.sources.eventlog_stream import (
        EventLogStreamReader,
    )
    from mapreduce_simulation_spark.tables import load_table

    stage = str(tmp_path / "evlog")
    events = load_table(spark, sf_dir, "events")
    events.repartitionByRange(4, "ts").write.mode("overwrite").parquet(stage)

    reader = EventLogStreamReader({"path": stage})
    total = len(reader._index)
    assert total >= 4  # one row group per staged file at this SF
    assert reader.initialOffset() == {"idx": 0}
    assert reader.latestOffset() == {"idx": total}

    parts = reader.partitions({"idx": 0}, {"idx": total})
    assert len(parts) == total
    rows = 0
    for p in parts:
        for batch in reader.read(p):
            assert isinstance(batch, pa.RecordBatch)
            assert batch.schema.names == [
                "event_id", "user_id", "event_type", "value", "ts_us",
            ]
            rows += batch.num_rows
    assert rows == events.count()

    # Tailing: a file appended AFTER the indexed ones becomes new offsets.
    first = sorted(
        f for f in os.listdir(stage) if f.endswith(".parquet")
    )[0]
    shutil.copy(
        os.path.join(stage, first), os.path.join(stage, "zzz-more.parquet")
    )
    grown = reader.latestOffset()["idx"]
    assert grown > total

    # Append-only violation: a file sorting BEFORE indexed ones remaps
    # committed offsets — must raise, never silently reindex.
    shutil.copy(
        os.path.join(stage, first), os.path.join(stage, "aaa-bad.parquet")
    )
    with _pytest.raises(ValueError, match="append-only"):
        reader.latestOffset()
    # partitions() re-validates the prefix too: a FRESH reader (a restarted
    # driver replanning committed offsets from its checkpoint) must hit the
    # same wall, never silently read remapped row groups.
    fresh = EventLogStreamReader({"path": stage})
    os.remove(os.path.join(stage, "aaa-bad.parquet"))
    with _pytest.raises(ValueError, match="append-only"):
        fresh.partitions({"idx": 0}, {"idx": total})

    # Shrunken log: committed offsets beyond the surviving index must
    # refuse to replan rather than read fewer/different row groups.
    clean = EventLogStreamReader({"path": stage})
    n_now = clean.latestOffset()["idx"]
    os.remove(os.path.join(stage, "zzz-more.parquet"))
    with _pytest.raises(ValueError, match="shrunken|append-only"):
        clean.partitions({"idx": 0}, {"idx": n_now})


def test_kvtext_stream_sink_replay_is_idempotent(tmp_path):
    """A replayed micro-batch (failure recovery reruns the last
    uncommitted batch) must overwrite its own files, not duplicate them:
    commit names are keyed by (batchId, partitionId) only, never by the
    attempt id."""
    import os

    from mapreduce_simulation_spark.sources.kvtext import (
        KVTextCommit,
        KVTextStreamWriter,
    )

    out = str(tmp_path / "sink")
    w = KVTextStreamWriter({"path": out})

    def attempt(attempt_id: int, payload: str) -> KVTextCommit:
        tmp = os.path.join(out, f".part-00000.attempt-{attempt_id}.tmp")
        with open(tmp, "w") as fh:
            fh.write(payload)
        return KVTextCommit(tmp)

    def attempt_pid(attempt_id: int, pid: int, payload: str) -> KVTextCommit:
        tmp = os.path.join(out, f".part-{pid:05d}.attempt-{attempt_id}.tmp")
        with open(tmp, "w") as fh:
            fh.write(payload)
        return KVTextCommit(tmp)

    w.commit([attempt(7, "a\t1\n")], batchId=3)
    w.commit([attempt(9, "a\t1\n")], batchId=3)  # the replay
    files = sorted(f for f in os.listdir(out) if not f.startswith(("_", ".")))
    assert files == ["batch-00003-part-00000"]
    with open(os.path.join(out, files[0])) as fh:
        assert fh.read() == "a\t1\n"
    # the replayed commit must not duplicate the manifest line
    with open(os.path.join(out, "_batches")) as fh:
        assert fh.read().splitlines() == ["3"]
    # a replay that plans FEWER partitions removes the earlier attempt's
    # stale sibling part files, so manifest readers can't over-read
    w.commit(
        [attempt_pid(13, 0, "b\t1\n"), attempt_pid(13, 1, "c\t1\n")],
        batchId=5,
    )
    w.commit([attempt_pid(15, 0, "b\t1\nc\t1\n")], batchId=5)  # narrower replay
    files5 = sorted(f for f in os.listdir(out) if f.startswith("batch-00005"))
    assert files5 == ["batch-00005-part-00000"]
    with open(os.path.join(out, "_batches")) as fh:
        assert fh.read().splitlines() == ["3", "5"]
    # a degenerate replay committing NO files (empty / all-None messages)
    # must not sweep away the earlier successful attempt's part files
    w.commit([], batchId=5)
    w.commit([None], batchId=5)
    files5 = sorted(f for f in os.listdir(out) if f.startswith("batch-00005"))
    assert files5 == ["batch-00005-part-00000"]
    with open(os.path.join(out, files5[0])) as fh:
        assert fh.read() == "b\t1\nc\t1\n"
    # aborts clean their temp files and commit nothing
    m = attempt(11, "junk")
    w.abort([m], batchId=4)
    assert not os.path.exists(m.file)


def test_staged_tokenized_docs_bitwise_parity(spark, sf_dir):
    """The staged token store must be a BITWISE function of the corpus:
    ws == tokens(text) and fp == char_hash(text) row-for-row, so every
    consumer's oracle (which tokenizes raw text itself) is unchanged.
    Also pins the build-side parallelism rule: the store is written at
    cluster parallelism, never as the source's single split."""
    from pyspark.sql import functions as F

    from mapreduce_simulation_spark.functions.hashing import char_hash
    from mapreduce_simulation_spark.operators.text import (
        staged_tokenized_docs,
        tokens,
    )
    from mapreduce_simulation_spark.tables import load_table

    staged = staged_tokenized_docs(spark, sf_dir)
    inline = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        char_hash(F.col("text")).alias("fp"),
        tokens(F.col("text")).alias("ws"),
    )
    assert staged.count() == inline.count()
    # exceptAll both ways == multiset equality, arrays included
    assert staged.exceptAll(inline).count() == 0
    assert inline.exceptAll(staged).count() == 0
    assert (
        staged.rdd.getNumPartitions()
        >= min(spark.sparkContext.defaultParallelism, staged.count())
        or staged.count() < spark.sparkContext.defaultParallelism
    )
