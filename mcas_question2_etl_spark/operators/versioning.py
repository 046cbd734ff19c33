"""Snapshot versioning operators: table diff and SCD type-2 history.

The reference's only notion of table versions is "replace the whole
table daily" (to_sql if_exists='replace', school_outcomes_etl.py:149)
and the per-county delete+append (election_results_etl.py:114-131).
These operators add the two standard lakehouse versioning shapes on
plain DataFrames:

  * ``snapshot_diff`` — what changed between two snapshots of a keyed
    table (added / removed / changed / unchanged), the audit primitive
    behind incremental loads and data-regression checks.
  * ``scd2_intervals`` — compact a changelog into slowly-changing-
    dimension type-2 validity intervals (valid_from / valid_to), the
    history-preserving alternative to the reference's full replace.

Scale notes: ``snapshot_diff`` projects each side to (key, value-hash)
BEFORE the join, so the full-outer join shuffles fixed-width hashes,
never row bodies — at 100 TB the shuffle is O(keys), and with both
sides bucketed by key it degenerates to a zipper merge with no
exchange. The value hash is md5 over a canonical concat (portable, so
the diff is oracle-checkable). ``scd2_intervals`` is one shuffle on
the entity key with two window passes (change-detection lag, then
valid_to lead) — WindowGroupLimit does not apply, but both windows
share the same (key, order) sort so Catalyst plans a single sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def row_value_hash(cols: Sequence[str]) -> F.Column:
    """Portable value fingerprint: md5 of '|'-joined string forms with
    an explicit null sentinel (concat_ws drops nulls silently)."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    return F.md5(F.concat_ws("|", *parts))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Keyed diff of two snapshots → key columns + ``diff_status`` in
    {'added', 'removed', 'changed', 'unchanged'}.

    ``compare_cols`` defaults to every non-key column both sides share.
    """
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]
    o = old.select(*keys, row_value_hash(compare_cols).alias("__oh"))
    n = new.select(*keys, row_value_hash(compare_cols).alias("__nh"))
    return (
        o.join(n, list(keys), "full_outer")
        .withColumn(
            "diff_status",
            F.when(F.col("__oh").isNull(), "added")
            .when(F.col("__nh").isNull(), "removed")
            .when(F.col("__oh") == F.col("__nh"), "unchanged")
            .otherwise("changed"),
        )
        .drop("__oh", "__nh")
    )


def scd2_intervals(
    changelog: DataFrame,
    keys: Sequence[str],
    order_col: str,
    attr_cols: Sequence[str],
    tiebreak: str,
) -> DataFrame:
    """Changelog → SCD2 validity intervals.

    Rows are ordered per key by (``order_col``, ``tiebreak``) — the
    tiebreak must make the order total so the intervals are
    deterministic. Consecutive rows whose ``attr_cols`` are unchanged
    are collapsed into one interval; each surviving row gets
    ``valid_from`` (its own order value) and ``valid_to`` (the next
    change's order value, null for the current row).
    """
    w = Window.partitionBy(*keys).orderBy(order_col, tiebreak)
    ah = row_value_hash(attr_cols)
    changed = (
        changelog.withColumn("__ah", ah)
        .withColumn("__prev", F.lag("__ah").over(w))
        .filter(F.col("__prev").isNull() | (F.col("__prev") != F.col("__ah")))
    )
    # re-window over the collapsed rows for valid_to
    w2 = Window.partitionBy(*keys).orderBy(order_col, tiebreak)
    return (
        changed.withColumn("valid_from", F.col(order_col))
        .withColumn("valid_to", F.lead(order_col).over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("__ah", "__prev")
    )
