"""Scalar functions (SURVEY.md §2.7 F1-F14).

Every host-language lambda the reference applies row-wise
(pandas ``.str`` methods, ``apply``, R ``mutate``) is re-expressed as a
native Spark Column expression — JVM-side, whole-stage-codegen'd, never a
Python UDF. This is the fast path at any scale: these expressions fuse
into the surrounding scan/project stage with zero serialization cost.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def comma_strip_cast(col: Column | str, dtype: str = "long") -> Column:
    """F1 — '1,234' -> 1234.

    Reference: ``col.str.replace(',', '').astype(int)``
    (school_outcomes_etl.py:109-110,131-132; election_results_etl.py:107-109).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, ",", "").cast(dtype)


def title_case(col: Column | str) -> Column:
    """F3 — town-name title casing.

    Reference: ``str.title()`` (election_results_etl.py:97). Spark's
    ``initcap`` capitalizes on whitespace boundaries; pandas str.title
    also capitalizes after apostrophes/hyphens — for the reference's
    data (space-separated town names) the two agree (SURVEY §2.7 F3).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.initcap(F.lower(c))


#: F4 — compass-point abbreviation expansion (election_results_etl.py:100-104).
DIRECTION_EXPANSIONS = (
    (r"N\.", "North"),
    (r"S\.", "South"),
    (r"E\.", "East"),
    (r"W\.", "West"),
)


def expand_directions(col: Column | str) -> Column:
    """F4 — 'N. Attleborough' -> 'North Attleborough' (chained regex)."""
    c = F.col(col) if isinstance(col, str) else col
    for pattern, repl in DIRECTION_EXPANSIONS:
        c = F.regexp_replace(c, pattern, repl)
    return c


def pct(numer: Column, denom: Column, decimals: int = 1) -> Column:
    """F8/F9 — round(numer/denom*100, d) (dashboard/app_data.R:36-37)."""
    return F.round(numer / denom * 100, decimals)


def with_zscore(df, col: str, out_col: str):
    """A5 — grand-aggregate z-score: (x - mean(x)) / stddev(x) over the
    whole relation, nulls skipped (query_census_data.Rmd:83 ``na.rm=T``).

    Implemented as a 1-row global aggregate broadcast-cross-joined back
    onto the input. The naive alternative — ``AVG(x) OVER ()`` — is an
    unpartitioned window that funnels the entire relation through a
    single partition (WindowExec warns exactly this); the agg+broadcast
    form keeps the second pass fully parallel, which is the difference
    between working and not working at 100 TB.
    """
    stats = df.agg(
        F.avg(col).alias("__mu"), F.stddev(col).alias("__sigma")
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(out_col, (F.col(col) - F.col("__mu")) / F.col("__sigma"))
        .drop("__mu", "__sigma")
    )
