"""Mergeable sketch aggregates (Apache DataSketches HLL, JVM-native).

The reference has no approximate aggregation — its N=324-town analysis
(run_analysis.Rmd:212) never needs one. At the 100 TB scale this engine
targets, exact ``COUNT(DISTINCT)`` is the classic scale cliff: it
re-shuffles the raw keys for every grouping the analyst asks for. The
standard OLAP answer (Dremel/Druid/BigQuery-style) is a *mergeable*
sketch: aggregate each partition into a fixed-size HLL once, then any
coarser rollup is a cheap union of sketches — no rescan, no re-shuffle
of raw keys, and the sketch table itself is tiny (2^lg_k bytes/group).

Spark ships DataSketches HLL natively (``hll_sketch_agg`` /
``hll_union_agg`` / ``hll_sketch_estimate``, JVM whole-stage codegen —
no Python in the loop), so all three operators below stay in the fast
path and map-side partial aggregation applies to the sketch build.

Error contract: relative error ~= 1.04 / sqrt(2^lg_k); lg_k=14 ->
~0.8% typical, and below ~2.5k distincts the sketch is in sparse mode
and *exact*. The oracle-checked specs assert the contract (estimate
within tolerance of DuckDB's exact distinct), not the raw estimate,
since HLL implementations differ across engines.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_LG_K = 14


def hll_distinct(
    df: DataFrame, group_keys: Sequence[str], col: str, lg_k: int = DEFAULT_LG_K
) -> DataFrame:
    """Approximate distinct count of ``col`` per group, one pass.

    One shuffle on ``group_keys`` with map-side partial sketches —
    the raw key column never crosses the wire, only fixed-size sketch
    buffers do. Output: group_keys + ``approx_distinct`` (long).
    """
    return df.groupBy(*group_keys).agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col(col), F.lit(lg_k))
        ).alias("approx_distinct")
    )


def hll_sketch_table(
    df: DataFrame, fine_keys: Sequence[str], col: str, lg_k: int = DEFAULT_LG_K
) -> DataFrame:
    """Materialize a mergeable sketch per fine-grained key.

    This is the "pre-aggregate once" half of the pattern: persist this
    tiny table (binary sketch column, 2^lg_k bytes max per row) and
    every coarser distinct-count rollup becomes `hll_rollup` over it —
    at 100 TB you scan the raw data exactly once, ever.
    """
    return df.groupBy(*fine_keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias("hll_sketch")
    )


def hll_rollup(
    sketches: DataFrame, coarse_keys: Sequence[str], sketch_col: str = "hll_sketch"
) -> DataFrame:
    """Merge fine-grained sketches up to ``coarse_keys`` and estimate.

    Sketch union is lossless w.r.t. the sketch's own error bound:
    union(sketch(A), sketch(B)) == sketch(A ∪ B) for same lg_k, so the
    rollup estimate carries the same error contract as a direct build.
    """
    return sketches.groupBy(*coarse_keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col(sketch_col))).alias(
            "approx_distinct"
        )
    )


def heavy_hitters(df: DataFrame, col: str, support: float = 0.01) -> DataFrame:
    """EXACT frequent items (count > support * N) via the two-pass
    candidates-then-verify pattern.

    Pass 1 (``df.stat.freqItems``, Karp/Misra-Gries style) finds every
    candidate in ONE scan with NO shuffle of raw keys — the sketch has
    no false negatives above ``support``, and its candidate set is
    bounded by ~1/support items regardless of N, so collecting it to
    the driver is safe at any scale. Pass 2 exact-counts only rows
    matching the broadcast candidate set, so the groupBy shuffles at
    most the heavy keys' rows. Net: exact answer, and the full-key
    shuffle an exact GROUP BY ... HAVING would need never happens.
    """
    total = df.count()
    [row] = df.stat.freqItems([col], support).collect()
    cands = [c for c in row[0] if c is not None]
    if not cands:
        return (
            df.select(col)
            .limit(0)
            .withColumn("cnt", F.lit(0).cast("long"))
        )
    return (
        df.filter(F.col(col).isin(cands))
        .groupBy(col)
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > support * total)
    )


# ---------------------------------------------------------------------------
# Exact mergeable distinct: RoaringBitmap-style bitmap aggregates
# ---------------------------------------------------------------------------

def bitmap_distinct_table(
    df: DataFrame, fine_keys: Sequence[str], col: str
) -> DataFrame:
    """Materialize an EXACT mergeable distinct-count structure per fine
    key: one fixed-width bitmap per (fine_keys, bucket) where ``bucket``
    partitions the integer id space into 32768-bit chunks
    (``bitmap_bucket_number``). Unlike HLL this is exact at any scale —
    the classic ClickHouse/Druid "bitmap index" pattern — at the cost of
    memory proportional to the id-space density, which is why it's
    reserved for integer surrogate keys.

    One shuffle on (fine_keys, bucket); map-side partial
    ``bitmap_construct_agg`` means raw ids collapse to set bits before
    crossing the wire.
    """
    return df.groupBy(
        *fine_keys, F.bitmap_bucket_number(F.col(col)).alias("bucket")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position(F.col(col))).alias(
            "bitmap"
        )
    )


def bitmap_rollup(
    bitmaps: DataFrame,
    coarse_keys: Sequence[str],
    bitmap_col: str = "bitmap",
) -> DataFrame:
    """EXACT distinct-count rollup from a `bitmap_distinct_table`:
    bitwise-OR the per-bucket bitmaps up to ``coarse_keys``, count set
    bits per bucket, sum across buckets. Buckets never overlap (each id
    maps to exactly one bucket), so the sum is exact — union semantics
    with no estimation error, no raw-key rescan.
    """
    per_bucket = bitmaps.groupBy(*coarse_keys, "bucket").agg(
        F.bitmap_count(F.bitmap_or_agg(F.col(bitmap_col))).alias("__cnt")
    )
    return per_bucket.groupBy(*coarse_keys).agg(
        F.sum("__cnt").cast("bigint").alias("exact_distinct")
    )


def bitmap_distinct(
    df: DataFrame, group_keys: Sequence[str], col: str
) -> DataFrame:
    """One-shot exact distinct via the bitmap path (build + rollup)."""
    return bitmap_rollup(
        bitmap_distinct_table(df, group_keys, col), group_keys
    )


# ---------------------------------------------------------------------------
# Theta sketches: mergeable distinct with SET ALGEBRA (union/intersect/diff)
# ---------------------------------------------------------------------------

def theta_segment_overlap(
    df: DataFrame,
    seg_col: str,
    id_col: str,
    seg_a: str,
    seg_b: str,
    lg_k: int = 14,
) -> DataFrame:
    """Audience-overlap via DataSketches Theta: how many distinct ids
    appear in segment A, in B, in both, in either. HLL can only union;
    Theta supports intersection/difference — the reason ad-tech OLAP
    (Druid) standardized on it. One scan, two map-side sketch builds,
    one single-row combine; raw ids never shuffle.

    Output: one row (seg_a, seg_b, est_a, est_b, est_union,
    est_intersect) of DOUBLE estimates (theta estimates are fractional
    once the sketch passes its exact-mode threshold).
    """
    both = df.filter(F.col(seg_col).isin([seg_a, seg_b]))
    sketches = both.groupBy().agg(
        F.theta_sketch_agg(
            F.when(F.col(seg_col) == seg_a, F.col(id_col)), F.lit(lg_k)
        ).alias("sk_a"),
        F.theta_sketch_agg(
            F.when(F.col(seg_col) == seg_b, F.col(id_col)), F.lit(lg_k)
        ).alias("sk_b"),
    )
    return sketches.select(
        F.lit(seg_a).alias("seg_a"),
        F.lit(seg_b).alias("seg_b"),
        F.theta_sketch_estimate("sk_a").alias("est_a"),
        F.theta_sketch_estimate("sk_b").alias("est_b"),
        F.theta_sketch_estimate(F.theta_union("sk_a", "sk_b")).alias(
            "est_union"
        ),
        F.theta_sketch_estimate(
            F.theta_intersection("sk_a", "sk_b")
        ).alias("est_intersect"),
    )


# ---------------------------------------------------------------------------
# KLL quantile sketches: mergeable quantiles with a proven error bound
# ---------------------------------------------------------------------------

def kll_quantile_table(
    df: DataFrame, fine_keys: Sequence[str], col: str, k: int = 200
) -> DataFrame:
    """Materialize a mergeable KLL(k) sketch of DOUBLE ``col`` per fine
    key — the quantile twin of `hll_sketch_table`: persist once, answer
    any quantile at any coarser grouping later via `kll_quantile_rollup`
    without rescanning. k=200 gives ~1.65% rank error (normalized,
    one-sided) per the DataSketches bound.
    """
    return df.groupBy(*fine_keys).agg(
        F.kll_sketch_agg_double(F.col(col), F.lit(k)).alias("kll_sketch")
    )


def kll_quantile_rollup(
    sketches: DataFrame,
    coarse_keys: Sequence[str],
    quantiles: Sequence[float],
    sketch_col: str = "kll_sketch",
) -> DataFrame:
    """Merge KLL sketches to ``coarse_keys`` and evaluate ``quantiles``.
    Output: coarse_keys + one ``q_<pct>`` DOUBLE column per quantile.
    Rank error of the merged sketch matches a direct build at the same
    k, so the accuracy contract survives the rollup.
    """
    merged = sketches.groupBy(*coarse_keys).agg(
        F.kll_merge_agg_double(F.col(sketch_col)).alias("__sk")
    )
    cols = [
        F.kll_sketch_get_quantile_double(F.col("__sk"), F.lit(q)).alias(
            f"q_{int(round(q * 100)):02d}"
        )
        for q in quantiles
    ]
    return merged.select(*coarse_keys, *cols)


def countmin_table(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-min sketch of the frequency of ``col``: a ``depth x width``
    counter grid as rows ``(cm_row, cm_bucket, cm_count)``.

    Each of the ``depth`` rows uses an independent salted portable hash
    (md5, same idiom as the repo's other cross-engine hashes); an item's
    estimate is the MIN over rows of its bucket's counter, which only
    ever OVER-estimates (Cormode & Muthukrishnan 2005) — the one-sided
    error that makes the sketch safe for threshold filters.

    Scale shape: the grid is ``depth*width`` rows no matter how many
    input rows flow in, and it merges by summing counters — partial
    grids from every partition combine map-side, so the shuffle carries
    the sketch, never the keys. Rollup across shards/days is a further
    groupBy-SUM over grid coordinates (same shape as hll_rollup).
    """
    rows = None
    for r in range(depth):
        h = F.expr(
            f"cast(conv(substring(md5(concat('cm{r}:', cast({col} as string))),"
            f" 1, 15), 16, 10) as bigint) % {width}"
        )
        part = df.select(
            F.lit(r).cast("int").alias("cm_row"),
            h.cast("int").alias("cm_bucket"),
        )
        rows = part if rows is None else rows.unionByName(part)
    return rows.groupBy("cm_row", "cm_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cm_count")
    )


def countmin_estimate(
    df: DataFrame,
    keys: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-estimate the frequency of each row of ``keys`` (column
    ``col``) from the count-min sketch of ``df``: min over the sketch's
    rows of the salted-hash bucket counter. Returns ``(col, cm_est)``.

    The sketch table is tiny (depth*width) and broadcasts; each probe
    key touches exactly ``depth`` counters.
    """
    sketch = countmin_table(df, col, depth=depth, width=width)
    probes = None
    for r in range(depth):
        h = F.expr(
            f"cast(conv(substring(md5(concat('cm{r}:', cast({col} as string))),"
            f" 1, 15), 16, 10) as bigint) % {width}"
        )
        part = keys.select(
            F.col(col),
            F.lit(r).cast("int").alias("cm_row"),
            h.cast("int").alias("cm_bucket"),
        )
        probes = part if probes is None else probes.unionByName(part)
    return (
        probes.join(F.broadcast(sketch), ["cm_row", "cm_bucket"], "left")
        .na.fill({"cm_count": 0})
        .groupBy(col)
        .agg(F.min("cm_count").cast("long").alias("cm_est"))
    )


def ams_f2_accuracy(
    df: DataFrame,
    key_col: str,
    n_estimators: int = 16,
    group_size: int = 4,
    tolerance: float = 0.5,
) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon-Matias-Szegedy 1996)
    with a median-of-means accuracy check against the exact
    ``F2 = sum_t c_t²`` — the self-join-size / skew estimator that
    predates every modern sketch, here with the repo's portable-hash
    discipline: the ±1 estimator signs come from md5 of
    ``key || '|' || estimator_id`` (identical integer arithmetic in
    both engines, unlike murmur/xxhash), so the WHOLE construction is
    INTEGER-exact — each ``S_r = sum_t sign_r(t)·c_t`` is a bigint,
    each estimate ``S_r²`` a bigint, group means are .25-grain and the
    median of means is exactly representable (division by 8 is exact
    in binary) — the oracle hash-matches values, not tolerances.

    Scale shape: the corpus reduces to the (key, count) aggregate
    once (map-side combined); the sketch stage explodes that table
    ``n_estimators``-fold and reduces to ``n_estimators`` rows; the
    exact-F2 pass reuses the same aggregate. At 100 TB you keep the
    sketch and drop the exact pass — it is here because the spec's
    contract is the accuracy check.

    Output (one row): (n_keys, f2_exact, f2_est, rel_err, within_tol).
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("__k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    ).localCheckpoint(eager=False)
    exact = counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(F.col("__c") * F.col("__c")).cast("bigint").alias("f2_exact"),
    )
    est_ids = F.explode(
        F.array(*[F.lit(i) for i in range(n_estimators)])
    ).alias("__r")
    signed = counts.select("__k", "__c", est_ids).withColumn(
        "__sign",
        F.expr(
            "cast(conv(substring(md5(concat(__k, '|', cast(__r as string))),"
            " 1, 15), 16, 10) as bigint) % 2"
        )
        * 2
        - 1,
    )
    s_r = signed.groupBy("__r").agg(
        F.sum(F.col("__sign") * F.col("__c")).cast("bigint").alias("__s")
    )
    grp = s_r.groupBy((F.col("__r") / group_size).cast("int").alias("__g")).agg(
        F.sum(F.col("__s") * F.col("__s")).cast("bigint").alias("__gsum")
    )
    w = Window.orderBy("__gsum")
    ranked = grp.select(
        F.col("__gsum"),
        F.row_number().over(w).alias("__i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("__m"),
    )
    # median of group sums = avg of the middle one/two; estimate =
    # median_sum / group_size
    med = ranked.filter(
        (F.col("__i") == F.floor((F.col("__m") + 1) / 2))
        | (F.col("__i") == F.ceil((F.col("__m") + 1) / 2))
    ).agg(
        (
            F.sum("__gsum").cast("double")
            / F.count(F.lit(1))
            / F.lit(float(group_size))
        ).alias("f2_est")
    )
    joined = exact.crossJoin(F.broadcast(med))
    rel = F.abs(F.col("f2_est") - F.col("f2_exact").cast("double")) / F.col(
        "f2_exact"
    ).cast("double")
    return joined.select(
        "n_keys",
        "f2_exact",
        "f2_est",
        F.round(rel, 6).alias("rel_err"),
        (rel < F.lit(float(tolerance))).alias("within_tol"),
    )


def ams_f2_accuracy_sql(
    table: str,
    key_col: str,
    n_estimators: int = 16,
    group_size: int = 4,
    tolerance: float = 0.5,
) -> str:
    """DuckDB twin of :func:`ams_f2_accuracy`."""
    return f"""
    WITH counts AS (
      SELECT CAST({key_col} AS VARCHAR) AS k,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM {table} GROUP BY 1
    ),
    exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(c * c) AS BIGINT) AS f2_exact
      FROM counts
    ),
    signed AS (
      SELECT r.r,
             (CAST(('0x' || substring(md5(k || '|' || CAST(r.r AS VARCHAR)),
                                      1, 15)) AS BIGINT) % 2) * 2 - 1
               AS sign,
             c
      FROM counts CROSS JOIN
           (SELECT unnest(range(0, {n_estimators})) AS r) r
    ),
    s_r AS (
      SELECT r, CAST(SUM(sign * c) AS BIGINT) AS s
      FROM signed GROUP BY r
    ),
    grp AS (
      SELECT CAST(r // {group_size} AS INTEGER) AS g,
             CAST(SUM(s * s) AS BIGINT) AS gsum
      FROM s_r GROUP BY 1
    ),
    ranked AS (
      SELECT gsum,
             ROW_NUMBER() OVER (ORDER BY gsum) AS i,
             COUNT(*) OVER () AS m
      FROM grp
    ),
    med AS (
      SELECT CAST(SUM(gsum) AS DOUBLE) / COUNT(*) / {group_size}.0 AS f2_est
      FROM ranked
      WHERE i = (m + 1) // 2 OR i = (m + 2) // 2
    )
    SELECT exact.n_keys, exact.f2_exact, med.f2_est,
           ROUND(ABS(med.f2_est - CAST(exact.f2_exact AS DOUBLE))
                 / CAST(exact.f2_exact AS DOUBLE), 6) AS rel_err,
           ABS(med.f2_est - CAST(exact.f2_exact AS DOUBLE))
             / CAST(exact.f2_exact AS DOUBLE) < {tolerance!r} AS within_tol
    FROM exact CROSS JOIN med
    """


def capture_recapture(
    df: DataFrame,
    key_col: str,
    mark_a_expr: str,
    mark_b_expr: str,
    round_to: int = 2,
) -> DataFrame:
    """Chapman capture-recapture population estimate — how many
    distinct keys exist in the UNIVERSE given two overlapping
    observation windows (the ecology estimator data engineers reuse
    to size a partially-crawled corpus or user base):

      ``N_hat = (n1 + 1)(n2 + 1) / (m + 1) - 1``

    with n1/n2 = distinct keys marked by each window and m = marked
    by both; Chapman's +1s debias the classic Lincoln-Petersen form.
    The standard error is
    ``sqrt((n1+1)(n2+1)(n1-m)(n2-m) / ((m+1)²(m+2)))``.

    n1, n2, m come from ONE scan aggregated per key (two boolean
    marks), then one count aggregate — exact integers into the final
    two ratios.

    Output (one row): (n1, n2, m_both, n_hat, se).
    """
    marks = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.max(F.expr(mark_a_expr).cast("int")).alias("__a"),
        F.max(F.expr(mark_b_expr).cast("int")).alias("__b"),
    )
    agg = marks.agg(
        F.sum("__a").cast("bigint").alias("n1"),
        F.sum("__b").cast("bigint").alias("n2"),
        F.sum(F.col("__a") * F.col("__b")).cast("bigint").alias("m_both"),
    )
    n1, n2, m = (
        F.col("n1").cast("double"),
        F.col("n2").cast("double"),
        F.col("m_both").cast("double"),
    )
    n_hat = (n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0
    se = F.sqrt(
        (n1 + 1.0) * (n2 + 1.0) * (n1 - m) * (n2 - m)
        / ((m + 1.0) * (m + 1.0) * (m + 2.0))
    )
    return agg.select(
        "n1",
        "n2",
        "m_both",
        F.round(n_hat, round_to).alias("n_hat"),
        F.round(se, round_to).alias("se"),
    )


def chao1_richness(
    df: DataFrame,
    key_col: str,
    round_to: int = 2,
) -> DataFrame:
    """Chao1 species-richness estimator over a key column — "how
    many distinct types exist in the population, given what this
    sample saw" (Chao 1984), the vocabulary-size/universe estimator
    that shares its frequency-of-frequencies input with Good-Turing
    (`good_turing_smoothing`):

      ``Chao1 = S_obs + F1² / (2 F2)``  (bias-corrected
      ``S_obs + F1(F1-1)/(2(F2+1))`` when F2 = 0 — applied always,
      as iNEXT does, for continuity),

    with F1/F2 = types seen exactly once/twice. The singleton mass
    predicts how much of the type universe remains unseen — the
    principled answer to "is the vocabulary curve saturating"
    (`vocab_growth_curve` shows the trajectory; Chao1 names the
    asymptote).

    One scan to (key, count); frequency-of-frequency rollup; exact
    integers into the final ratio.

    Output (one row): (s_obs, f1, f2, chao1).
    """
    counts = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    fof = counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("s_obs"),
        F.sum((F.col("__c") == 1).cast("long")).cast("bigint").alias("f1"),
        F.sum((F.col("__c") == 2).cast("long")).cast("bigint").alias("f2"),
    )
    f1, f2 = F.col("f1").cast("double"), F.col("f2").cast("double")
    chao1 = F.col("s_obs").cast("double") + f1 * (f1 - 1.0) / (
        2.0 * (f2 + 1.0)
    )
    return fof.select(
        "s_obs", "f1", "f2", F.round(chao1, round_to).alias("chao1")
    )


# ──────────────────────────────────────────────────────────────────────────
# wave 104: ACE richness + Chao-Shen entropy
# ──────────────────────────────────────────────────────────────────────────


def ace_richness(
    df: DataFrame,
    key_col: str,
    rare_cutoff: int = 10,
    round_to: int = 2,
) -> DataFrame:
    """ACE — the Abundance-based Coverage Estimator of species
    richness (Chao & Lee 1992): where Chao1 prices the unseen mass
    from singletons/doubletons alone, ACE uses the WHOLE rare tail
    (frequency ≤ ``rare_cutoff``) with a sample-coverage correction
    and a CV adjustment for heterogeneous abundances — the estimator
    of record when doubletons are noisy:

      C = 1 − F1/N_rare,  γ² = max(S_rare·Σi(i−1)Fi /
      (C·N_rare·(N_rare−1)) − 1, 0),
      ACE = S_abund + S_rare/C + F1·γ²/C.

    All inputs are exact integer frequency-of-frequency sums; three
    closing divisions. Output (one row): s_obs, s_rare, s_abund, f1,
    coverage, cv2, ace."""
    counts = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    rare = F.col("__c") <= rare_cutoff
    g = counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("s_obs"),
        F.sum(rare.cast("long")).cast("bigint").alias("s_rare"),
        F.sum((~rare).cast("long")).cast("bigint").alias("s_abund"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(rare, F.col("__c")).otherwise(0))
        .cast("bigint")
        .alias("n_rare"),
        F.sum(
            F.when(rare, F.col("__c") * (F.col("__c") - 1)).otherwise(0)
        )
        .cast("bigint")
        .alias("sum_ii1"),
    )
    # degenerate tails (no rare types, or an all-singleton rare tail
    # where coverage would be 0) yield NULL rather than a divide-by-
    # zero — same CASE shape as the SQL twin
    c_ace = F.when(
        (F.col("n_rare") > 0) & (F.col("f1") < F.col("n_rare")),
        F.lit(1.0)
        - F.col("f1").cast("double") / F.col("n_rare").cast("double"),
    ).otherwise(F.lit(None).cast("double"))
    gamma2 = F.greatest(
        F.col("s_rare").cast("double")
        * F.col("sum_ii1").cast("double")
        / (
            c_ace
            * F.col("n_rare").cast("double")
            * (F.col("n_rare").cast("double") - 1.0)
        )
        - 1.0,
        F.lit(0.0),
    )
    ace = (
        F.col("s_abund").cast("double")
        + F.col("s_rare").cast("double") / c_ace
        + F.col("f1").cast("double") * gamma2 / c_ace
    )
    return g.select(
        "s_obs",
        "s_rare",
        "s_abund",
        "f1",
        F.round(c_ace, 6).alias("coverage"),
        F.round(gamma2, 6).alias("cv2"),
        F.round(ace, round_to).alias("ace"),
    )


def ace_richness_sql(
    table: str,
    key_expr: str,
    rare_cutoff: int = 10,
    round_to: int = 2,
) -> str:
    """DuckDB twin of :func:`ace_richness`."""
    return f"""
    WITH counts AS (
      SELECT {key_expr} AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM {table} GROUP BY 1
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS s_obs,
             CAST(SUM(CASE WHEN c <= {rare_cutoff} THEN 1 ELSE 0 END)
                  AS BIGINT) AS s_rare,
             CAST(SUM(CASE WHEN c > {rare_cutoff} THEN 1 ELSE 0 END)
                  AS BIGINT) AS s_abund,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(SUM(CASE WHEN c <= {rare_cutoff} THEN c ELSE 0 END)
                  AS BIGINT) AS n_rare,
             CAST(SUM(CASE WHEN c <= {rare_cutoff} THEN c * (c - 1)
                           ELSE 0 END) AS BIGINT) AS sum_ii1
      FROM counts
    )
    SELECT s_obs, s_rare, s_abund, f1,
           ROUND(CASE WHEN n_rare > 0 AND f1 < n_rare
                      THEN 1.0 - CAST(f1 AS DOUBLE) / CAST(n_rare AS DOUBLE)
                      ELSE NULL END, 6)
             AS coverage,
           ROUND(CASE WHEN n_rare > 0 AND f1 < n_rare
                      THEN GREATEST(CAST(s_rare AS DOUBLE)
                          * CAST(sum_ii1 AS DOUBLE)
                          / ((1.0 - CAST(f1 AS DOUBLE)
                                    / CAST(n_rare AS DOUBLE))
                             * CAST(n_rare AS DOUBLE)
                             * (CAST(n_rare AS DOUBLE) - 1.0))
                          - 1.0, 0.0) ELSE NULL END, 6) AS cv2,
           ROUND(CASE WHEN n_rare > 0 AND f1 < n_rare
                 THEN CAST(s_abund AS DOUBLE)
                 + CAST(s_rare AS DOUBLE)
                   / (1.0 - CAST(f1 AS DOUBLE) / CAST(n_rare AS DOUBLE))
                 + CAST(f1 AS DOUBLE)
                   * GREATEST(CAST(s_rare AS DOUBLE)
                              * CAST(sum_ii1 AS DOUBLE)
                              / ((1.0 - CAST(f1 AS DOUBLE)
                                        / CAST(n_rare AS DOUBLE))
                                 * CAST(n_rare AS DOUBLE)
                                 * (CAST(n_rare AS DOUBLE) - 1.0))
                              - 1.0, 0.0)
                   / (1.0 - CAST(f1 AS DOUBLE) / CAST(n_rare AS DOUBLE))
                 ELSE NULL END,
                 {round_to}) AS ace
    FROM g
    """


def chao_shen_entropy(
    df: DataFrame,
    key_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Chao-Shen (2003) coverage-adjusted Shannon entropy: the plug-in
    entropy −Σp̂ln p̂ is biased LOW exactly when the tail is unseen;
    Chao-Shen shrinks each plug-in probability by the Good-Turing
    coverage C = 1 − F1/n and Horvitz-Thompson-weights each term by
    its detection probability 1 − (1−Cp̂)ⁿ:

      Ĥ_CS = −Σ_i  C·p̂_i·ln(C·p̂_i) / (1 − (1−C·p̂_i)ⁿ)

    — the entropy the suite's doc_entropy/diversity plug-ins would
    converge to with more data. The power term is computed as
    exp(n·ln(1−Cp̂)) identically in both engines (it underflows to 0
    for common types, where the weight is 1 anyway). One frequency
    rollup, one vocabulary-sized sum, one pass. Output (one row):
    n_tokens, s_obs, coverage, h_plugin, h_chao_shen."""
    counts = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    tot = counts.agg(
        F.sum("__c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("s_obs"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
    )
    j = counts.crossJoin(F.broadcast(tot))
    nn = F.col("n_tokens").cast("double")
    cov = F.lit(1.0) - F.col("f1").cast("double") / nn
    p = F.col("__c").cast("double") / nn
    cp = cov * p
    detect = F.lit(1.0) - F.exp(nn * F.log(F.lit(1.0) - cp))
    terms = j.select(
        "n_tokens",
        "s_obs",
        cov.alias("__cov"),
        (p * F.log(p)).alias("__plug"),
        # an all-singleton sample has coverage 0: ln(C*p) is
        # undefined, report NULL rather than raise (same CASE as SQL)
        F.when(
            F.col("f1") < F.col("n_tokens"), cp * F.log(cp) / detect
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("__cs"),
    )
    g = terms.groupBy("n_tokens", "s_obs", "__cov").agg(
        F.sum("__plug").alias("__hp"),
        F.sum("__cs").alias("__hcs"),
    )
    return g.select(
        "n_tokens",
        "s_obs",
        F.round(F.col("__cov"), round_to).alias("coverage"),
        F.round(-F.col("__hp"), round_to).alias("h_plugin"),
        F.round(-F.col("__hcs"), round_to).alias("h_chao_shen"),
    )


def chao_shen_entropy_sql(
    table: str,
    key_expr: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin of :func:`chao_shen_entropy`."""
    return f"""
    WITH counts AS (
      SELECT {key_expr} AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM {table} GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS s_obs,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1
      FROM counts
    ),
    terms AS (
      SELECT n_tokens, s_obs,
             1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS cov,
             (CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
               * LN(CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS plug,
             CASE WHEN f1 < n_tokens THEN
             ((1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE))
              * CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             * LN((1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                  * CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             / (1.0 - EXP(CAST(n_tokens AS DOUBLE)
                          * LN(1.0 - (1.0 - CAST(f1 AS DOUBLE)
                                            / CAST(n_tokens AS DOUBLE))
                                     * CAST(c AS DOUBLE)
                                     / CAST(n_tokens AS DOUBLE))))
             ELSE NULL END AS cs
      FROM counts CROSS JOIN tot
    )
    SELECT n_tokens, s_obs,
           ROUND(MAX(cov), {round_to}) AS coverage,
           ROUND(-SUM(plug), {round_to}) AS h_plugin,
           ROUND(-SUM(cs), {round_to}) AS h_chao_shen
    FROM terms GROUP BY n_tokens, s_obs
    """


# ---------------------------------------------------------------------------
# wave 157: DDSketch — relative-error quantiles from log-boundary buckets
# ---------------------------------------------------------------------------


def ddsketch_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
    rel_err: float = 0.01,
) -> DataFrame:
    """DDSketch (Masson, Rim & Lee, VLDB 2019) quantiles per group —
    the RELATIVE-ERROR complement to the KLL sketches above: KLL
    bounds RANK error (the returned value's rank is within εn), while
    DDSketch bounds VALUE error (the returned value is within a
    relative α of the true quantile, any rank). For latency/price
    tails, "p99 accurate to 1% of its value" is usually the contract
    people actually want.

      γ = (1+α)/(1−α);  positive x lands in bucket
      ``b = ceil(log(x)/log(γ))``;  the bucket's representative is
      ``2γ^b/(γ+1)`` (its mid-point in relative terms, within α of
      every x it holds). Quantile q = representative of the bucket
      where the cumulative count crosses ceil(q·(n−1)) + 1.

    Contract: strictly positive values (the published sketch splits
    sign + zero stores; this operator takes the positive store, which
    is what money/latency columns are — documented). Unlike KLL's
    opaque binary blob, the sketch here IS a (bucket, count) table —
    mergeable by ADDITION at any coarser grouping, partition-order
    free (exact integer counts), and reproducible bit-for-bit in any
    engine with the same ceil/log shapes — which is why the oracle
    can verify it exactly.

    Scale shape: one groupBy(group, bucket) map-side-combined rollup
    (the sketch), then a per-group cumulative window over the BUCKET
    table (bounded: ~log_γ(max/min) buckets ≈ 1,800 per decade-span
    at α = 1%), never the raw rows. Output per group and q:
    (group, q, n, bucket, estimate).
    """
    a = float(rel_err)
    gamma = (1.0 + a) / (1.0 - a)
    pos = df.select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("double").alias("v"),
    ).filter(F.col("v") > 0)
    buckets = pos.select(
        "g",
        F.ceil(F.log(F.col("v")) / F.lit(float(math.log(gamma))))
        .cast("bigint")
        .alias("b"),
    ).groupBy("g", "b").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wcum = (
        Window.partitionBy("g")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = buckets.select(
        "g",
        "b",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(Window.partitionBy("g")).alias("n"),
    )
    qcols = F.explode(
        F.array(*[F.lit(float(q)) for q in qs])
    ).alias("q")
    hits = cum.select("g", "b", "cum", "n", qcols).filter(
        F.col("cum")
        >= F.ceil(F.col("q") * (F.col("n") - 1).cast("double")) + 1
    )
    est = (
        hits.groupBy("g", "q")
        .agg(F.max("n").alias("n"), F.min("b").alias("bucket"))
        .select(
            F.col("g").alias(group_col),
            "q",
            "n",
            "bucket",
            F.round(
                2.0
                * F.pow(F.lit(gamma), F.col("bucket").cast("double"))
                / F.lit(gamma + 1.0),
                6,
            ).alias("estimate"),
        )
    )
    return est.orderBy(group_col, "q")


def ddsketch_quantiles_sql(
    src_sql: str,
    group_col: str,
    value_col: str,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
    rel_err: float = 0.01,
) -> str:
    """DuckDB twin of :func:`ddsketch_quantiles` (same γ, same
    ceil/log bucket shape, same rank convention)."""
    a = float(rel_err)
    gamma = (1.0 + a) / (1.0 - a)
    q_list = ", ".join(f"CAST({float(q)!r} AS DOUBLE)" for q in qs)
    return f"""
    WITH src AS ({src_sql}),
    pos AS (
      SELECT {group_col} AS g, CAST({value_col} AS DOUBLE) AS v
      FROM src WHERE {value_col} > 0
    ),
    buckets AS (
      SELECT g,
             CAST(CEIL(LN(v) / {math.log(gamma)!r}) AS BIGINT) AS b,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM pos GROUP BY 1, 2
    ),
    cum AS (
      SELECT g, b,
             SUM(c) OVER (PARTITION BY g ORDER BY b
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY g) AS n
      FROM buckets
    ),
    hits AS (
      SELECT g, b, cum, n, q
      FROM cum CROSS JOIN (SELECT unnest([{q_list}]) AS q) qq
      WHERE cum >= CEIL(q * CAST(n - 1 AS DOUBLE)) + 1
    )
    SELECT g AS {group_col}, q,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(b) AS BIGINT) AS bucket,
           ROUND(2.0 * POW({gamma!r}, CAST(MIN(b) AS DOUBLE))
                 / {gamma + 1.0!r}, 6) AS estimate
    FROM hits GROUP BY g, q
    ORDER BY 1, 2
    """
