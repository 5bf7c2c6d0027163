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
  3. the ≤ P per-partition totals aggregated from the same
     range-partitioned frame, folded into carried-in prefix offsets in one
     array row, and broadcast-joined back on ``_pid`` — the classic
     two-pass distributed scan (Blelloch 1990), computed inside the plan.

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


def _with_offsets(parted: DataFrame, value: Column) -> DataFrame:
    """``parted`` (which carries ``_pid``) plus, per row, ``_pre``, the sum
    of ``value`` over the earlier partitions, and ``_n``, its sum over all
    partitions.

    The ≤ P partition totals are gathered into one array row and each
    total's sums are folded from that array, so the plan reads ``parted``
    only twice (rows and totals) and holds no window. The fold filters the
    whole array once per partition, so it is quadratic in P
    (``spark.sql.shuffle.partitions``), not in the data."""
    totals = parted.groupBy(F.col("_pid").alias("_p")).agg(value.alias("_t"))

    def summed(arr: Column) -> Column:
        return F.aggregate(
            arr, F.lit(0).cast("long"), lambda acc, y: acc + y["_t"]
        )

    folded = F.transform(
        "_a",
        lambda x: F.struct(
            x["_p"].alias("_p"),
            summed(F.filter("_a", lambda y: y["_p"] < x["_p"])).alias("_pre"),
            summed(F.col("_a")).alias("_n"),
        ),
    )
    offsets = totals.agg(F.collect_list(F.struct("_p", "_t")).alias("_a"))
    return parted.join(
        F.broadcast(offsets.select(F.inline(folded))),
        F.col("_pid") == F.col("_p"),
    ).drop("_p")


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
    ``_loc`` comes from ``monotonically_increasing_id`` (pid in the high
    bits, row position in the low 33), which is deterministic here because
    the partition row order is pinned by ``sortWithinPartitions`` over a
    total order. A row's global position is its partition's prefix plus
    ``_loc``; groups are contiguous in that order, so the group rank is
    that minus the group's first, which a G-row ``groupBy`` gives with the
    group's count. It joins back null-safely: a NULL group is a group like
    any other."""
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
    ranked = (
        _with_offsets(parted, F.count(F.lit(1)))
        .withColumn("_grank", F.col("_pre") + F.col("_loc") + F.lit(1))
        .drop("_mid", "_pid", "_loc", "_pre")
    )
    if not group_cols:
        return ranked
    kk = [f"_k{i}" for i in range(len(group_cols))]
    groups = ranked.groupBy(
        *[F.col(c).alias(k) for c, k in zip(group_cols, kk)]
    ).agg(F.min("_grank").alias("_s"), F.count(F.lit(1)).alias("_n"))
    on = [F.col(c).eqNullSafe(F.col(k)) for c, k in zip(group_cols, kk)]
    return (
        ranked.drop("_n")
        .join(F.broadcast(groups), reduce(operator.and_, on))
        .withColumn("_grank", F.col("_grank") - F.col("_s") + F.lit(1))
        .drop("_s", *kk)
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
    partitions, and groups are contiguous under the range order, so a
    row's position in its group is its global position minus the group's
    first; a G-row group table gives that start and the group's count.
    Use this primitive when G is dimension-bounded (languages, sources,
    priorities): the group table is broadcast to every row partition. For
    high-cardinality groups a plain partitioned window is already the
    right plan — no group is hot enough to matter, and the G-row table
    stops being broadcastable.

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
    total = F.coalesce(F.sum(value_col), F.lit(0)).cast("long")
    return (
        _with_offsets(parted, total)
        .withColumn(out_col, F.col("_pre") + local)
        .drop("_pid", "_pre", "_n")
    )
