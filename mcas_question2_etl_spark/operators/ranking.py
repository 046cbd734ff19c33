"""Distributed global ranking: total-order row numbers and ntile
without a single-task window.

A window with no PARTITION BY (``row_number() OVER (ORDER BY ...)``,
``ntile(k)``) is correct in Spark but executes as ONE task holding the
whole table — the classic scale cliff. The distributed construction is
the textbook two-phase rank:

1. ``repartitionByRange`` on the order key (a range shuffle: Spark
   samples boundaries, so partitions are balanced and ordered);
2. a PER-PARTITION ``row_number`` window keyed on
   ``spark_partition_id()`` — fully parallel, each task sorts only its
   slice;
3. per-partition row counts (a #partitions-row aggregate) get a running
   offset via a window over that TINY table, broadcast back;
4. global rn = local rn + preceding-partitions offset.

Ties must be broken to a unique total order (include a unique id in
``order_cols``): the range partitioner co-locates equal keys, and a
unique order makes the result independent of where sampling placed the
partition boundaries.

``with_ntile`` derives ntile(k) from (rn, n) in closed form — the first
``n % k`` buckets get ``n//k + 1`` rows, matching SQL NTILE exactly —
so equal-frequency bucketing inherits the same scale-out.

The rank-test family ranks with ties averaged. The average rank of a
tie run [r, r+t-1] is r + (t-1)/2, so the DOUBLED mid-rank
``2r + t - 1`` is an exact integer and every rank sum stays an exact
integer sum. Two helpers produce it:

* ``doubled_midrank`` — per row, from a partitioned ``rank()`` window
  plus the tie count (for ranks within blocks or groups);
* ``value_ranks`` — per distinct value: the row count, optional flag
  counts, and how many rows (and flagged rows) lie strictly below the
  value. Only the distinct-value table is sorted, in one window, so the
  per-row input is reduced locally before anything is ordered.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _range_parts(df: DataFrame, order_cols: list, num_partitions) -> DataFrame:
    """``df`` range-partitioned on ``order_cols`` with its partition id
    in ``__pid``, materialized once.

    The two-phase scans read ``__pid`` in two branches (local windows
    and per-partition offsets). Left as a plan, each branch may get its
    own range exchange, each sampling its own boundaries, and the
    offsets then land on the wrong rows; the checkpoint fixes one
    partitioning for both.
    """
    return (
        df.repartitionByRange(
            *([num_partitions] if num_partitions else []), *order_cols
        )
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )


def with_global_row_number(
    df: DataFrame,
    order_cols: list,
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Adds ``out_col`` = 1-based position in the total order defined by
    ``order_cols`` (which must be a unique total order), computed with
    per-partition windows only — no single-task global window."""
    parts = _range_parts(df, order_cols, num_partitions)
    w_local = Window.partitionBy("__pid").orderBy(*order_cols)
    local = parts.withColumn("__local_rn", F.row_number().over(w_local))
    counts = local.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__offset", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0))
    ).select("__pid", "__offset")
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__local_rn") + F.col("__offset")))
        .drop("__pid", "__local_rn", "__offset")
    )


def with_running_sum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Adds ``out_col`` = prefix sum of ``value_col`` over the global
    total order — the distributed scan primitive.

    Same two-phase shape as :func:`with_global_row_number`: range
    shuffle on the order key, per-partition window prefix sums (fully
    parallel), then each partition's TOTAL gets a running offset via a
    window over the #partitions-row table, broadcast back. A plain
    ``SUM() OVER (ORDER BY ...)`` window executes as ONE task holding
    every row; this stays parallel at any scale. ``order_cols`` must be
    a unique total order for a deterministic result.
    """
    parts = _range_parts(df, order_cols, num_partitions)
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = parts.withColumn("__local_sum", F.sum(value_col).over(w_local))
    totals = local.groupBy("__pid").agg(F.sum(value_col).alias("__tot"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "__offset", F.coalesce(F.sum("__tot").over(w_off), F.lit(0))
    ).select("__pid", "__offset")
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.col("__local_sum") + F.col("__offset"))
        .drop("__pid", "__local_sum", "__offset")
    )


def with_ntile(
    df: DataFrame,
    order_cols: list,
    k: int,
    out_col: str = "bucket",
) -> DataFrame:
    """Adds SQL ``NTILE(k)`` over the global total order, built on
    :func:`with_global_row_number` (so it scales out instead of
    collapsing to one task).

    NTILE semantics: with n rows, the first ``n % k`` buckets hold
    ``n//k + 1`` rows and the rest hold ``n//k``.
    """
    ranked = with_global_row_number(df, order_cols, out_col="__rn")
    # total row count as a broadcast 1-row scalar table — NOT an
    # unpartitioned window, which would re-introduce the single task
    n_row = df.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    with_n = ranked.crossJoin(F.broadcast(n_row))
    q = F.floor(F.col("__n") / k)
    r = F.col("__n") % k
    big = q + 1
    threshold = r * big  # rows covered by the size-(q+1) buckets
    rn = F.col("__rn")
    bucket = F.when(
        rn <= threshold, F.floor((rn - 1) / big) + 1
    ).otherwise(
        # guard: this branch is unreachable when q == 0 (threshold == n),
        # greatest() keeps ANSI division happy anyway
        r + F.floor((rn - threshold - 1) / F.greatest(q, F.lit(1))) + 1
    )
    return (
        with_n.withColumn(out_col, bucket.cast("int"))
        .drop("__rn", "__n")
    )


def doubled_midrank(value, *partition_cols) -> Column:
    """Doubled average rank of ``value`` within ``partition_cols``
    (over all rows when none are given): ``2*rank() + ties - 1``, an
    exact integer."""
    w_rank = Window.partitionBy(*partition_cols).orderBy(value)
    w_tie = Window.partitionBy(*partition_cols, value)
    return 2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_tie) - 1


def value_ranks(df: DataFrame, value: str, *flags: str) -> DataFrame:
    """One row per distinct ``value`` of ``df``: ``c`` (its row count),
    one count per boolean ``flags`` column (under the flag's name), and
    for each count a ``<name>_below`` column holding the same count over
    all strictly smaller values.

    A row at ``value`` then has the doubled mid-rank
    ``2*c_below + c + 1``, and within the rows where flag ``f`` holds,
    ``2*f_below + f + 1``. One ordered window runs over the
    distinct-value table; the rows are only grouped.
    """
    counts = ["c", *flags]
    per_value = df.groupBy(value).agg(
        F.count(F.lit(1)).alias("c"),
        *[F.count(F.when(F.col(f), 1)).alias(f) for f in flags],
    )
    w = Window.orderBy(value).rowsBetween(Window.unboundedPreceding, -1)
    return per_value.select(
        "*",
        *[
            F.coalesce(F.sum(k).over(w), F.lit(0)).alias(f"{k}_below")
            for k in counts
        ],
    )
