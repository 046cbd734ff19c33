"""Aggregation operators (SURVEY.md §2.4 A1-A7).

All map onto Spark hash aggregates with automatic partial (map-side)
aggregation — including ``collect_set``/``collect_list``, whose partial
buffers combine per-partition before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Money/measure columns in the testdata are exact 2-decimal doubles, so a
#: DECIMAL(18,2) cast is lossless and SUM becomes exact integer arithmetic —
#: bit-identical across engines/partitionings. Plain double SUM/AVG is
#: summation-order-dependent, and ROUND() on a boundary double disagrees
#: between Spark (shortest-decimal-repr HALF_UP) and C++-style engines
#: (binary-value rounding), so deterministic money aggregates are the only
#: oracle-safe form. This also fixes result nondeterminism across Spark runs
#: with different partition counts — a correctness property at 100 TB, not
#: just a test convenience.
MONEY = "decimal(18,2)"


def money_sum(col: Column | str) -> Column:
    """Exact, order-independent SUM for 2-decimal measures (as double)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(MONEY)).cast("double")


def money_avg(col: Column | str) -> Column:
    """Exact-sum AVG: CAST(SUM(DECIMAL) AS DOUBLE)/COUNT — the division is
    a single IEEE op on identical inputs, so results are reproducible."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(MONEY)).cast("double") / F.count(c)


def oracle_money_sum(col: str) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"


def revenue_sum(price: str = "l_extendedprice", discount: str = "l_discount") -> Column:
    """Exact SUM(price * (1 - discount)) — the TPC-H revenue measure.

    Both factors are 2-decimal values, so the DECIMAL product (scale 4)
    and its sum are exact integer arithmetic: order-independent and
    engine-identical, unlike a double product chain."""
    p = F.col(price).cast(MONEY)
    d = F.lit(1).cast(MONEY) - F.col(discount).cast(MONEY)
    return F.sum(p * d).cast("double")


def oracle_revenue_sum(price: str, discount: str) -> str:
    return (
        f"CAST(SUM(CAST({price} AS DECIMAL(18,2)) * "
        f"(CAST(1 AS DECIMAL(18,2)) - CAST({discount} AS DECIMAL(18,2)))) AS DOUBLE)"
    )


def frequency_table(df: DataFrame, *cols: str, count_name: str = "n") -> DataFrame:
    """A3/A4 — value counts: ``table(x)`` (create_school_town_lookup.Rmd:45),
    ``summarize(n())`` (run_analysis.Rmd:46-48)."""
    return df.groupBy(*cols).agg(F.count(F.lit(1)).alias(count_name))


def summary_stats(df: DataFrame, *cols: str) -> DataFrame:
    """A6 — per-column min/max/mean/stddev/count (run_analysis.Rmd:75's
    ``summary()``), as one exact distributed aggregate returning a single
    row with `{stat}_{col}` columns (quartiles omitted: the reference
    uses them for eyeballing only; ``approxQuantile`` available ad hoc)."""
    aggs = []
    for c in cols:
        aggs += [
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            money_avg(c).alias(f"mean_{c}"),
            F.round(F.stddev(c), 4).alias(f"stddev_{c}"),
            F.count(c).alias(f"count_{c}"),
        ]
    return df.agg(*aggs)


def equiwidth_histogram(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_buckets: int,
) -> DataFrame:
    """Equi-width histogram: ``(bucket, n_rows, min_val, max_val)`` for
    buckets ``0..n_buckets-1``; out-of-range values clamp into the edge
    buckets. Empty buckets are absent (consistently on every engine).

    The bucket id is one explicit ``floor((x - lo) / width)`` double op
    — the SAME expression the oracle runs, so boundary values land
    identically in both engines (Spark's ``width_bucket`` builtin is
    avoided for exactly that reason: its internal arithmetic isn't
    specified to match). Fully scan-stage + one tiny (n_buckets-row)
    shuffle with map-side combine; this is the scalable histogram — an
    equi-DEPTH histogram needs quantiles first (see
    `sketches.kll_quantile_rollup` for the 100 TB route).
    """
    width = (hi - lo) / n_buckets
    c = F.col(col)
    bucket = F.least(
        F.greatest(F.floor((c - lo) / width), F.lit(0)),
        F.lit(n_buckets - 1),
    ).cast("bigint")
    return (
        df.select(bucket.alias("bucket"), c.alias("v"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("v").alias("min_val"),
            F.max("v").alias("max_val"),
        )
        .orderBy("bucket")
    )


def equiwidth_histogram_sql(
    col: str, lo: float, hi: float, n_buckets: int, table: str
) -> str:
    """DuckDB twin of :func:`equiwidth_histogram` (bit-identical bucket
    arithmetic)."""
    width = (hi - lo) / n_buckets
    b = (
        f"CAST(LEAST(GREATEST(FLOOR(({col} - {lo}) / {width!r}), 0), "
        f"{n_buckets - 1}) AS BIGINT)"
    )
    return f"""
    SELECT {b} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN({col}) AS min_val,
           MAX({col}) AS max_val
    FROM {table}
    GROUP BY 1 ORDER BY 1
    """


def weighted_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Per-group weighted quantiles (lower weighted-CDF inverse):
    q_p = MIN(v such that cumweight(<= v) >= p * totalweight).

    The classic survey/usage-weighted percentile (each row counts
    ``weight_col`` times); ``percentile_approx`` has no weighted form
    and exploding rows by weight is O(total weight). One window
    shuffle on the group key; the per-probability picks are
    conditional MINs in the same aggregation, so added probabilities
    are free.

    Exactness note: with integer-valued weights (quantities, counts)
    the prefix sums are exact doubles (< 2^53) and p in {.25,.5,.75}
    scales the total exactly (powers of two), so the >= comparisons
    are engine-deterministic — no ulp boundary. Ties in ``value_col``
    need no tiebreak: whichever tied row crosses the threshold, the
    MIN selects the same value.
    """
    from pyspark.sql import Window

    tot = df.groupBy(group_col).agg(F.sum(weight_col).alias("__T"))
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        df.select(group_col, value_col, weight_col)
        .join(F.broadcast(tot), group_col)
        .withColumn("__cum", F.sum(weight_col).over(w))
    )
    aggs = [F.max("__T").alias("total_w")]
    for p in probs:
        tag = str(p).replace("0.", "p").replace(".", "_")
        aggs.append(
            F.min(
                F.when(F.col("__cum") >= F.lit(p) * F.col("__T"), F.col(value_col))
            ).alias(tag)
        )
    return cum.groupBy(group_col).agg(*aggs)


def weighted_quantiles_sql(
    table: str,
    group_col: str,
    value_col: str,
    weight_col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> str:
    """DuckDB twin of :func:`weighted_quantiles`."""
    picks = ",\n           ".join(
        f"MIN(CASE WHEN cum >= {p} * T THEN v END) AS "
        + str(p).replace("0.", "p").replace(".", "_")
        for p in probs
    )
    return f"""
    WITH t AS (
      SELECT {group_col}, SUM({weight_col}) AS T
      FROM {table} GROUP BY {group_col}
    ),
    c AS (
      SELECT x.{group_col}, x.{value_col} AS v, t.T,
             SUM(x.{weight_col}) OVER (
               PARTITION BY x.{group_col} ORDER BY x.{value_col}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM {table} x JOIN t USING ({group_col})
    )
    SELECT {group_col}, MAX(T) AS total_w,
           {picks}
    FROM c GROUP BY {group_col}
    """


def log2_histogram(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group power-of-two (log2) histogram of a positive integer
    measure — the right bucketing for heavy-tailed size distributions
    (doc lengths, payload bytes) where equi-width buckets dump
    everything into bin 0.

    Exact bucketing trick: floor(log2(x)) via float log sits on a
    representability cliff at exact powers of two (log2(1024.0) can
    come out 9.99...9); the bucket here is
    ``length(bin(x)) - 1`` — the bit length of the integer minus one —
    which is string/integer arithmetic, exact in both engines, and
    equals floor(log2(x)) for every positive integer. Non-positive
    values are excluded explicitly.

    Output: (group, bucket, lo, n, min_v, max_v) where lo = 2^bucket.
    Scale: one scan-stage expression + one (group, bucket) aggregation
    with map-side combine.
    """
    b = (F.length(F.bin(F.col(value_col))) - 1).cast("int").alias("bucket")
    return (
        df.filter(F.col(value_col) > 0)
        .select(F.col(group_col), b, F.col(value_col).alias("__v"))
        .groupBy(group_col, "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("__v").cast("bigint").alias("min_v"),
            F.max("__v").cast("bigint").alias("max_v"),
        )
        .withColumn("lo", F.pow(F.lit(2.0), F.col("bucket")).cast("bigint"))
        .select(group_col, "bucket", "lo", "n", "min_v", "max_v")
    )


def log2_histogram_sql(
    table: str,
    group_col: str,
    value_col: str,
) -> str:
    """DuckDB twin of :func:`log2_histogram`."""
    return f"""
    WITH b AS (
      SELECT {group_col} AS g,
             CAST(length(bin({value_col})) - 1 AS INTEGER) AS bucket,
             {value_col} AS v
      FROM {table} WHERE {value_col} > 0
    )
    SELECT g AS {group_col}, bucket,
           CAST(pow(2.0, bucket) AS BIGINT) AS lo,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(v) AS BIGINT) AS min_v,
           CAST(MAX(v) AS BIGINT) AS max_v
    FROM b GROUP BY g, bucket
    """
