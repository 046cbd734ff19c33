"""Fan-out of small inputs ahead of CPU-bound kernel stages.

The bench-scale parquet inputs read as ONE split (single row group), so
every map stage that precedes the first shuffle — and every
BroadcastNestedLoopJoin whose stream side comes straight off a scan or
a tiny aggregate — runs on a single core no matter how many the box
has. For cheap projections that is irrelevant; for quadratic pair
kernels (repeated-medians, diagonal dot products, probe-set scans),
heavyweight per-row expressions (space-filling-curve folds, md5
signatures, shingle arrays) and Python codec kernels the stage
serializes on one task while the other cores idle. `fan_out` spreads
the tiny input across the cluster's parallelism first: the shuffled
rows are a few dozen bytes each, and at 100 TB the kernel fleet scales
with executors instead of with the accidental input split count.

Only use it in front of work that is superlinear in the fanned-out
rows (or heavy per row); a plain scan-project-aggregate is better off
without the extra exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Above this Catalyst size estimate the partition probe (and the
#: shuffle it gates) is skipped outright: a plan this big either
#: already has enough splits or must not pay an extra full shuffle,
#: and with AQE the probe itself is not free (see ``fan_out``).
_SPREAD_PROBE_MAX_BYTES = 1 << 30


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the optimized plan — a driver-side
    stats lookup, far cheaper than the plan->RDD conversion it gates.

    ``None`` when Catalyst has no estimate: a plan over an RDD (a
    ``createDataFrame`` or ``localCheckpoint`` frame) reports the
    session's ``spark.sql.defaultSizeInBytes`` (Long.MaxValue unless
    set), which is a placeholder, not a size."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        unknown = int(conf.defaultSizeInBytes())
    except Exception:  # pragma: no cover — exotic plans / py4j drift
        return None
    return None if size == unknown else size


def fan_out(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition a small ``df`` to the session's ``defaultParallelism``
    (scale-adaptive, never a constant tuned to one box), hashing on
    ``key_cols`` when given and round-robin otherwise.

    Two guards keep it a no-op wherever the spread cannot help:

    * Catalyst size estimate first — above ``_SPREAD_PROBE_MAX_BYTES``
      the input comes back untouched without probing. The
      partition-count probe is NOT free under AQE: converting a plan
      that contains exchanges to an RDD materializes the upstream
      query stages eagerly, and the later action does not reuse them.
      The guard bounds that double execution to small inputs and keeps
      a 100 TB table from paying either the probe or the shuffle. With
      no estimate the probe still runs.
    * Partition-count probe second — when the input already plans at
      least ``defaultParallelism`` partitions (or the probe fails) it
      comes back untouched; the repartition exists for the small-input
      case where one parquet split serializes a heavy kernel on one
      core.
    """
    size = _plan_size_bytes(df)
    if size is not None and size > _SPREAD_PROBE_MAX_BYTES:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= par:
            return df
    except Exception:  # pragma: no cover — exotic plans; keep the input
        return df
    return df.repartition(par, *key_cols) if key_cols else df.repartition(par)
