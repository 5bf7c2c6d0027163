"""The streaming-executable contract — the reference engine's UDF surface.

The reference's core capability is running *arbitrary executables* as
mappers and reducers over tab-separated key/value lines (Hadoop Streaming
contract): the worker pipes input-file lines to the mapper's stdin
(reference worker/__main__.py:173-186), hash-partitions output lines by the
text before the first tab (md5-mod, :62-65,180-186), sorts each partition
(coreutils sort, :191-198), k-way merges sorted runs into the reducer's
stdin (heapq.merge, :241-249), and a contiguous-key group is the reducer's
unit of work.

Spark-first re-expression (SURVEY.md §7 step 3), one JVM dataflow that
starts no Python worker:
  pipe_map     one process per partition (Spark's PipedRDD), not per file.
  pipe_reduce  `key\\tvalue` lines placed by repartitionById on the md5-mod
               of the key, byte-sorted by sortWithinPartitions (UTF8_BINARY
               is LC_ALL=C `sort` order): each reducer sees contiguous key
               groups. Both split output lines with text_dir.as_kv.

Semantics notes:
  - md5-mod placement exists for executables that assume the reference's
    file assignment; query results never depend on it.
  - The argv is ``shlex.split(command)`` (no shell reads the user's words),
    run with an empty environment as PySpark's Python-side pipe did. Exit
    codes are ignored, as by the reference's unchecked Popen, except
    126/127: a command that cannot run fails the job.
  - A NULL input line is sent as "", trailing newlines stripped before the
    one terminator. An output line ends at ``\\n``, ``\\r\\n`` or a lone
    ``\\r`` (Java's line reader; Hadoop's LineRecordReader splits input
    files the same way).
  - The executable is the throughput ceiling: pipe is for binary
    compatibility with user executables, not a fast path.
"""

from __future__ import annotations

import hashlib
import os
import re
import shlex

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.text_dir import as_kv, lines_frame, read_text_dir
from ..tables import load_table

# Runs argv in an empty environment; only exit 126/127 (cannot run) fails.
_RUN = 'env -i "$@"; s=$?; case $s in 126|127) exit $s;; esac'


def _md5_mod(key: str, num_partitions: int) -> int:
    """The reference's placement hash: md5 of the key text, mod partitions
    (reference worker/__main__.py:62-65). Used only for executable-visible
    partition assignment — never for query semantics."""
    return int(hashlib.md5(key.encode("utf-8")).hexdigest(), 16) % num_partitions


def _md5_mod_col(key: Column, num_partitions: int) -> Column:
    """:func:`_md5_mod` as a column: the md5 hex digest reduced mod n 32
    bits at a time (Horner), so every step fits a long for any n < 2**31."""
    r = F.lit(0)
    for i in range(1, 33, 8):
        chunk = F.conv(F.substring(F.md5(key), i, 8), 16, 10).cast("long")
        r = (r * (1 << 32) + chunk) % num_partitions
    return r.cast("int")


def _strings(df: DataFrame):
    """The single string column of ``df`` as a JVM Dataset[String]."""
    jvm = df.sparkSession._jvm
    return getattr(df._jdf, "as")(jvm.org.apache.spark.sql.Encoders.STRING())


def _pipe(lines: DataFrame, command: str) -> DataFrame:
    """Stream each partition of the single-column ``lines`` through one
    ``command`` process; returns its output lines as DataFrame[value]."""
    (col,) = lines.columns
    text = F.coalesce(F.col(col).cast("string"), F.lit(""))
    line = F.regexp_replace(text, r"\n+\z", "")
    argv = ["/bin/sh", "-c", _RUN, "sh", *shlex.split(command)]
    jlines = _strings(lines.select(line)).javaRDD()
    piped = jlines.pipe(argv, {}, False, 1 << 16, "UTF-8")
    return lines_frame(lines.sparkSession, piped)


def _reduce(df: DataFrame, command: str, num_partitions: int) -> DataFrame:
    """Reducer output lines: partition ``i`` holds exactly what reducer
    ``i`` printed, in print order. NULL keys and values are sent as ""."""
    key, value = (
        F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns[:2]
    )
    line = F.concat(key, F.lit("\t"), value).alias("line")
    pid = _md5_mod_col(key, num_partitions)
    placed = df.select(line).repartitionById(num_partitions, pid)
    return _pipe(placed.sortWithinPartitions("line"), command)


def pipe_map(df: DataFrame, command: str) -> DataFrame:
    """Run an executable as a flatMap over lines (mapper contract).

    ``df`` must have a single string column (the line). Each partition's
    lines stream through one process instance; 0..n output lines per input
    line. Output schema: key/value split on the first tab.
    """
    return as_kv(_pipe(df, command))


def pipe_reduce(df: DataFrame, command: str, num_partitions: int) -> DataFrame:
    """Run an executable over sorted, key-partitioned lines (reducer
    contract): md5-mod partition on key → byte-sort within partition →
    one process per partition consuming `key\\tvalue` lines with contiguous
    key groups.
    """
    return as_kv(_reduce(df, command, num_partitions))


def pipe_word_count(
    spark: SparkSession,
    sf_dir: str,
    mapper: str | None = None,
    reducer: str | None = None,
    num_partitions: int = 4,
) -> DataFrame:
    """Word count executed entirely through external executables — the
    reference's flagship job shape, on our engine's pipe operator.

    Default mapper/reducer are coreutils one-liners with the same semantics
    as the engine-native word_count plan (lowercase, whitespace split, drop
    empties), so the DuckDB wordcount oracle applies.
    """
    # mapper: line → one lowercased `word\t1` per whitespace token
    mapper = mapper or (
        "awk '{ line = tolower($0); n = split(line, w, /[ \\t]+/); "
        'for (i = 1; i <= n; i++) if (w[i] != "") print w[i] "\\t1" }\''
    )
    # reducer: sorted `word\t1` lines → `word\tcount` per contiguous group
    reducer = reducer or (
        "awk -F'\\t' '{ if ($1 != prev) { if (NR > 1) print prev \"\\t\" cnt; "
        "prev = $1; cnt = 0 } cnt += $2 } END { if (NR > 0) print prev \"\\t\" cnt }'"
    )
    docs = load_table(spark, sf_dir, "documents").select("text")
    reduced = pipe_reduce(pipe_map(docs, mapper), reducer, num_partitions)
    return reduced.select(
        F.col("key").alias("word"), F.col("value").cast("long").alias("cnt")
    )


def pipe_grep(
    spark: SparkSession,
    sf_dir: str,
    query: str = "spark",
    num_partitions: int = 1,
) -> DataFrame:
    """Grep executed through external executables, honoring the reference's
    argv contract: the search term reaches the mapper as a command-line
    argument (reference grep_map.py:14-17 reads `sys.argv[1]`), not baked
    into the program text.

    Job shape is the reference's grep exactly: mapper emits `1\\tline` for
    case-insensitive matches (grep_map.py:27), the constant key collapses
    everything onto one reducer, and the reducer passes values through
    (grep_reduce.py:27 prints the value) — here the pass-through is `cat`
    plus the post-pipe value projection.
    """
    mapper = (
        "awk -v q=%s '{ line = tolower($0); "
        'if (index(line, q) > 0) print "1\\t" $0 }\'' % shlex.quote(query.lower())
    )
    docs = load_table(spark, sf_dir, "documents").select("text")
    reduced = pipe_reduce(pipe_map(docs, mapper), "cat", num_partitions)
    return reduced.select(F.col("value").alias("text"))


def submit_job(
    spark,
    input_directory: str,
    output_directory: str,
    mapper: str,
    reducer: str,
    num_mappers: int = 4,
    num_reducers: int = 4,
) -> None:
    """The reference's whole job contract in one call (submit.py:18-60
    flag semantics): text-dir scan with an ``num_mappers`` split floor,
    executable map, md5-mod partition + byte-sort, executable reduce,
    ``num_reducers`` tab-separated part files into a fresh output
    directory. tools/mr_submit.py is the CLI wrapper; golden byte-parity
    with the reference's shipped outputs is asserted in
    tests/test_reference_goldens.py.

    File-placement contract: ``part-0000i`` holds VERBATIM what reducer
    ``i`` (the md5-mod partition, worker/__main__.py:62-65) printed, in
    print order — byte-identical to the reference's part files, not merely
    content-equal. The reducer's partitions are written directly
    (saveAsTextFile, one task per reducer partition); no repartition sits
    between the reducer and the sink. Empty reducer partitions still
    produce their (empty) part file, matching the reference.
    """
    lines = read_text_dir(spark, input_directory, min_partitions=num_mappers)
    out_lines = _strings(_reduce(pipe_map(lines, mapper), reducer, num_reducers))
    # The reference manager rmtree+recreates the output dir per job
    # (manager/__main__.py:344-355); the Hadoop FS delete is the
    # cluster-correct equivalent (works for file://, hdfs://, s3a://).
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = spark._jvm.org.apache.hadoop.fs.Path(output_directory)
    fs = jpath.getFileSystem(hconf)
    if fs.exists(jpath):
        fs.delete(jpath, True)
    # The reference job directory contains ONLY part files; suppress the
    # committer's _SUCCESS marker (all filesystems) so a directory-level
    # diff against reference output matches too.  The Hadoop configuration
    # is SESSION-GLOBAL, so the prior value is restored afterwards —
    # otherwise every later write in the SparkSession (parquet staging,
    # other sinks) would silently lose its _SUCCESS marker too.
    mark_key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    prior_mark = hconf.get(mark_key)
    hconf.set(mark_key, "false")
    try:
        out_lines.javaRDD().saveAsTextFile(output_directory)
    finally:
        if prior_mark is None:
            hconf.unset(mark_key)
        else:
            hconf.set(mark_key, prior_mark)
    # Local-FS only: ChecksumFileSystem materializes hidden .crc siblings
    # (and hides them from listStatus, so they must be swept via the OS).
    # Object stores / HDFS keep checksums out of the directory listing.
    local = re.sub(r"^file:(//)?", "", output_directory)
    if not local.startswith(("hdfs:", "s3", "abfs", "gs:")) and os.path.isdir(local):
        for name in os.listdir(local):
            if name == "_SUCCESS" or name.endswith(".crc"):
                os.remove(os.path.join(local, name))
