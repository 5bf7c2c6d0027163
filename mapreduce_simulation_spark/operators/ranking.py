"""Distributed total-order primitives: global rank, ntile, cumulative sum.

A partition-less ``Window.orderBy`` collapses the whole input onto one task
(``Exchange SinglePartition`` + single sort) — correct, but a scale killer:
at 100 TB "rank every customer" is 10⁸⁺ rows through one core. These
helpers keep the total order but distribute the sort:

  1. ``repartitionByRange`` on the sort key → P non-overlapping key ranges
     in partition order (the same machinery behind ``orderBy``'s shuffle);
  2. a per-partition local index — ``monotonically_increasing_id`` after
     ``sortWithinPartitions`` encodes (partition id, row position) with NO
     window node, or a ``_pid``-partitioned running sum for cumsum (a
     partitioned window, never a single-task one);
  3. per-partition totals (≤ P + G rows: P shuffle partitions, G groups)
     aggregated from the same range-partitioned frame, folded into
     carried-in prefix offsets in one array row, and broadcast-joined back
     on ``_pid`` — the classic two-pass distributed scan, computed inside
     the plan.

Both passes read one range exchange: the totals branch and the row branch
share it inside the query (``ReusedExchange``; see ``_range_parted`` for
what keeps column pruning from splitting it), so the range bounds are
sampled once per execution and the offsets always describe the
partitioning the rows were ranked in — on every re-execution, with nothing
persisted and nothing collected to the driver (pinned by
tests/test_ranking.py). The prefix is folded with array functions rather
than a window so the executed plans keep no window node at all.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_LOCAL_BITS = 33  # monotonically_increasing_id: pid << 33 | row-in-partition
_LOCAL_MASK = (1 << _LOCAL_BITS) - 1


def _num_partitions(df: DataFrame) -> int:
    return int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )


def _range_parted(df: DataFrame, p: int, keys: list[Column]) -> DataFrame:
    """``df`` range-partitioned on ``keys`` into ``p`` partitions, each
    sorted by ``keys`` and then by every column of ``df``.

    The trailing sort keys never move a row under a total order, but they
    make every consumer of the range exchange read all of its columns. So
    column pruning cannot give the offsets branch, which needs only the
    keys, a narrower exchange than the row branch: the two stay one
    exchange (``ReusedExchange``). Two exchanges would each sample their
    own range bounds, and the offsets would describe the other one's
    partitioning."""
    return df.repartitionByRange(p, *keys).sortWithinPartitions(
        *keys, *[F.col(c) for c in df.columns]
    )


def _with_offsets(
    parted: DataFrame, keys: list[str], value: Column, *cell: Column
) -> DataFrame:
    """``parted`` (which carries ``_pid``) plus, per row, the aggregates of
    its (``_pid``, ``keys``) cell: ``_pre``, the sum of ``value`` over the
    same key's earlier partitions, ``_n``, its sum over all of the key's
    partitions, and each of ``cell``.

    The ≤ P + G cells are gathered into one array row and each cell's sums
    are folded from that array, so the plan reads ``parted`` only twice
    (rows and cells) and holds no window. Keys match null-safely, so a
    NULL group is a group like any other."""
    kk = [f"_k{i}" for i in range(len(keys))]
    cells = parted.groupBy(
        F.col("_pid").alias("_p"),
        *[F.col(k).alias(a) for k, a in zip(keys, kk)],
    ).agg(value.alias("_t"), *cell)

    def total(x: Column, earlier: bool) -> Column:
        """Sum of ``_t`` over the cells of ``x``'s key, or over those in
        earlier partitions only."""

        def counted(y: Column) -> Column:
            same = [x[a].eqNullSafe(y[a]) for a in kk]
            if earlier:
                same.append(y["_p"] < x["_p"])
            return reduce(operator.and_, same, F.lit(True))

        return F.aggregate(
            F.filter("_a", counted),
            F.lit(0).cast("long"),
            lambda acc, y: acc + y["_t"],
        )

    folded = F.transform(
        "_a",
        lambda x: x.withField("_pre", total(x, True)).withField(
            "_n", total(x, False)
        ),
    )
    offsets = (
        cells.agg(F.collect_list(F.struct(*cells.columns)).alias("_a"))
        .select(F.inline(folded))
        .drop("_t")
    )
    on = [F.col("_pid") == F.col("_p")] + [
        F.col(k).eqNullSafe(F.col(a)) for k, a in zip(keys, kk)
    ]
    return parted.join(F.broadcast(offsets), reduce(operator.and_, on)).drop(
        "_p", *kk
    )


def _ranked(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    num_partitions: int | None,
) -> DataFrame:
    """``df`` plus ``_grank``, each row's 1-based position within its group
    under ``order_cols``, and ``_n``, its group's row count.

    The range partitioner keys on ``(group, order)``, so a hot group
    spreads over many partitions, each locally sorted. The local index
    comes from ``monotonically_increasing_id`` (pid in the high bits, row
    position in the low 33), which is deterministic here because the
    partition row order is pinned by ``sortWithinPartitions`` over a total
    order. A group's rows in one partition are contiguous, starting at
    local index ``_s``."""
    p = num_partitions or _num_partitions(df)
    gcols = [F.col(c) for c in group_cols]
    parted = (
        _range_parted(df, p, [*gcols, *order_cols])
        .withColumn("_mid", F.monotonically_increasing_id())
        .select(
            "*",
            F.shiftright("_mid", _LOCAL_BITS).cast("int").alias("_pid"),
            F.col("_mid").bitwiseAND(F.lit(_LOCAL_MASK)).alias("_loc"),
        )
    )
    return (
        _with_offsets(
            parted, group_cols, F.count(F.lit(1)), F.min("_loc").alias("_s")
        )
        .withColumn(
            "_grank", F.col("_pre") + F.col("_loc") - F.col("_s") + F.lit(1)
        )
        .drop("_mid", "_pid", "_loc", "_s", "_pre")
    )


def with_distributed_rank(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a 1-based global row number over the total order ``order_cols``
    (which must be total — include a unique tie-break) without a
    single-partition sort and without any window node.

    Plan shape: Exchange(rangepartitioning) → local Sort → Project, joined
    with the broadcast per-partition offsets."""
    return (
        _ranked(df, [], order_cols, num_partitions)
        .withColumnRenamed("_grank", out_col)
        .drop("_n")
    )


def with_distributed_ntile(
    df: DataFrame,
    order_cols: list[Column],
    buckets: int,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``ntile(buckets)`` over the total order ``order_cols`` with the
    distributed-rank plan (no partition-less window): the grouped ntile
    with no group."""
    return with_distributed_grouped_ntile(
        df, [], order_cols, buckets, out_col, num_partitions
    )


def with_distributed_grouped_ntile(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    buckets: int,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``ntile(buckets) OVER (PARTITION BY group ORDER BY order)``
    without a per-group single-task sort.

    A plain ``Window.partitionBy(group)`` is parallel *across* groups but
    serial *within* one: every row of a group lands on one task. When the
    grouping is dimension-like but skewed — language over a web corpus,
    where one language is half the data — the hot group becomes a
    single-task sort at 100 TB. Here a hot group spreads over many range
    partitions and its positions are reassembled from the per-(partition,
    group) totals. Groups are contiguous under the range order, so each
    partition boundary splits at most one group: the totals are ≤ P + G
    rows. Use this primitive when G is dimension-bounded (languages,
    sources, priorities); for high-cardinality groups a plain partitioned
    window is already the right plan — no group is hot enough to matter,
    and P + G stops being bounded.

    ntile semantics reproduced exactly: with n_g rows, the first n_g mod k
    buckets hold ⌈n_g/k⌉ rows, the rest ⌊n_g/k⌋ — a column expression of
    the group rank and n_g, which differs per group.
    """
    ranked = _ranked(df, group_cols, order_cols, num_partitions)
    q = (F.col("_n") / buckets).cast("long")
    rem = F.col("_n") % buckets
    thresh = rem * (q + 1)
    bucket = (
        F.when(q == 0, F.col("_grank"))
        .when(
            F.col("_grank") <= thresh,
            ((F.col("_grank") + q) / (q + 1)).cast("long"),
        )
        .otherwise(rem + ((F.col("_grank") - thresh + q - 1) / q).cast("long"))
    )
    return ranked.withColumn(out_col, bucket.cast("int")).drop("_grank", "_n")


def with_distributed_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    out_col: str,
    include_current: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add the running sum of ``value_col`` over the total order
    ``order_cols`` as shard-local window + carried-in prefix totals.

    The window is partitioned by the range-shard id — P concurrent sorts of
    1/P of the data each, never ``Exchange SinglePartition`` — and each
    shard's carried-in prefix (the sum of all earlier shards) comes from
    the per-shard totals. Identical arithmetic to the global-window form:
    cumsum(row) = shard_prefix + local_cumsum(row).
    """
    p = num_partitions or _num_partitions(df)
    parted = _range_parted(df, p, order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    upper = 0 if include_current else -1
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    local = F.coalesce(F.sum(value_col).over(w), F.lit(0)).cast("long")
    return (
        _with_offsets(
            parted, [], F.coalesce(F.sum(value_col), F.lit(0)).cast("long")
        )
        .withColumn(out_col, F.col("_pre") + local)
        .drop("_pid", "_pre", "_n")
    )
