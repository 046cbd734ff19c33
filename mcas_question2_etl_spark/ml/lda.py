"""Fisher linear discriminant analysis, two features, closed form.

The classifier family here already spans naive Bayes (independence
assumption, operators/nbayes.py), the single-split decision stump
(operators/stump.py) and the IRLS logistic GLM (ml/glm.py). LDA is
the missing classical member: the Bayes-optimal linear rule under
shared-covariance Gaussians, and — unlike the GLM — it is CLOSED
FORM: w = S_w⁻¹(μ₁ − μ₀) with a 2×2 explicit inverse, threshold at
the midpoint projection. With integer/DECIMAL features every moment
is an exact sum, so both engines derive the identical axis, and the
training-accuracy pass is exact comparison counting against that
shared axis. One moments aggregate + one scoring scan — no
iteration, O(rows) at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def lda_two_feature(
    df: DataFrame,
    label_pred,
    x1: str,
    x2: str,
    round_to: int = 6,
) -> DataFrame:
    """Fisher LDA on features (x1, x2) for the binary label
    ``label_pred`` (a boolean Column): pooled within-class scatter
    S_w from exact per-class moment sums, axis w = S_w⁻¹·Δμ via the
    explicit 2×2 inverse, midpoint threshold c = w·(μ₀+μ₁)/2, Fisher
    criterion J = (w·Δμ)²/(wᵀS_w w), and training accuracy from one
    exact comparison-counting pass (class 1 predicted when
    w·x > c — ties break to class 0, identically in both engines).
    Output (one row): n0, n1, w1, w2, threshold, fisher_j,
    accuracy; no output is a negative zero (a sign the two engines'
    ROUNDs do not agree on)."""
    # DECIMAL features keep their type through the moment sums, which
    # are then exact and so independent of partitioning; they become
    # double only after the aggregate. Other features are summed as
    # doubles (exact for integers below 2^53, order-dependent otherwise).
    def feature(name: str):
        c = F.col(name)
        is_dec = isinstance(df.select(name).schema[0].dataType, T.DecimalType)
        return c if is_dec else c.cast("double")

    moments = df.select(
        F.when(label_pred, 1).otherwise(0).alias("__c"),
        feature(x1).alias("__x1"),
        feature(x2).alias("__x2"),
    )
    m = moments.groupBy("__c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__x1").cast("double").alias("s1"),
        F.sum("__x2").cast("double").alias("s2"),
        F.sum(F.col("__x1") * F.col("__x1")).cast("double").alias("s11"),
        F.sum(F.col("__x1") * F.col("__x2")).cast("double").alias("s12"),
        F.sum(F.col("__x2") * F.col("__x2")).cast("double").alias("s22"),
    )
    wide = m.groupBy().pivot("__c", [0, 1]).agg(
        F.max("n").alias("n"),
        F.max("s1").alias("s1"),
        F.max("s2").alias("s2"),
        F.max("s11").alias("s11"),
        F.max("s12").alias("s12"),
        F.max("s22").alias("s22"),
    )
    n0 = F.col("0_n").cast("double")
    n1 = F.col("1_n").cast("double")
    mu10 = F.col("0_s1") / n0
    mu20 = F.col("0_s2") / n0
    mu11 = F.col("1_s1") / n1
    mu21 = F.col("1_s2") / n1
    # pooled within-class scatter (sum of centered second moments)
    a = (
        F.col("0_s11") - n0 * mu10 * mu10
        + F.col("1_s11") - n1 * mu11 * mu11
    )
    b = (
        F.col("0_s12") - n0 * mu10 * mu20
        + F.col("1_s12") - n1 * mu11 * mu21
    )
    c_ = (
        F.col("0_s22") - n0 * mu20 * mu20
        + F.col("1_s22") - n1 * mu21 * mu21
    )
    d1 = mu11 - mu10
    d2 = mu21 - mu20
    det = a * c_ - b * b
    w1 = (c_ * d1 - b * d2) / det
    w2 = (a * d2 - b * d1) / det
    thr = (w1 * (mu10 + mu11) + w2 * (mu20 + mu21)) / F.lit(2.0)
    fj = (w1 * d1 + w2 * d2) * (w1 * d1 + w2 * d2) / (
        w1 * (a * w1 + b * w2) + w2 * (b * w1 + c_ * w2)
    )
    params = wide.select(
        F.col("0_n").alias("n0"),
        F.col("1_n").alias("n1"),
        w1.alias("__w1"),
        w2.alias("__w2"),
        thr.alias("__thr"),
        fj.alias("__fj"),
    )
    pts = moments.select(
        "__c",
        F.col("__x1").cast("double").alias("__x1"),
        F.col("__x2").cast("double").alias("__x2"),
    )
    scored = pts.crossJoin(F.broadcast(params))
    pred1 = (
        F.col("__w1") * F.col("__x1") + F.col("__w2") * F.col("__x2")
        > F.col("__thr")
    )
    g = scored.agg(
        F.max("n0").alias("n0"),
        F.max("n1").alias("n1"),
        F.max("__w1").alias("w1d"),
        F.max("__w2").alias("w2d"),
        F.max("__thr").alias("thrd"),
        F.max("__fj").alias("fjd"),
        F.sum(
            F.when(
                (pred1 & (F.col("__c") == 1))
                | (~pred1 & (F.col("__c") == 0)),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("hits"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return g.select(
        "n0",
        "n1",
        # "+ 0.0" turns a rounded -0.0 into 0.0 in both engines
        (F.round(F.col("w1d"), round_to) + 0.0).alias("w1"),
        (F.round(F.col("w2d"), round_to) + 0.0).alias("w2"),
        (F.round(F.col("thrd"), round_to) + 0.0).alias("threshold"),
        (F.round(F.col("fjd"), round_to) + 0.0).alias("fisher_j"),
        F.round(
            F.col("hits").cast("double") / F.col("n").cast("double"),
            round_to,
        ).alias("accuracy"),
    )


def lda_two_feature_sql(
    table: str,
    label_pred_sql: str,
    x1: str,
    x2: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin of :func:`lda_two_feature`."""
    return f"""
    WITH moments AS (
      SELECT CASE WHEN {label_pred_sql} THEN 1 ELSE 0 END AS c,
             {x1} AS x1, {x2} AS x2
      FROM {table}
    ),
    pts AS (
      SELECT c, CAST(x1 AS DOUBLE) AS x1, CAST(x2 AS DOUBLE) AS x2
      FROM moments
    ),
    m AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x1) AS DOUBLE) AS s1, CAST(SUM(x2) AS DOUBLE) AS s2,
             CAST(SUM(x1 * x1) AS DOUBLE) AS s11,
             CAST(SUM(x1 * x2) AS DOUBLE) AS s12,
             CAST(SUM(x2 * x2) AS DOUBLE) AS s22
      FROM moments GROUP BY c
    ),
    wide AS (
      SELECT MAX(CASE WHEN c = 0 THEN CAST(n AS DOUBLE) END) AS n0,
             MAX(CASE WHEN c = 1 THEN CAST(n AS DOUBLE) END) AS n1,
             MAX(CASE WHEN c = 0 THEN s1 END) AS s10,
             MAX(CASE WHEN c = 0 THEN s2 END) AS s20,
             MAX(CASE WHEN c = 1 THEN s1 END) AS s11_,
             MAX(CASE WHEN c = 1 THEN s2 END) AS s21_,
             MAX(CASE WHEN c = 0 THEN s11 END) AS q110,
             MAX(CASE WHEN c = 0 THEN s12 END) AS q120,
             MAX(CASE WHEN c = 0 THEN s22 END) AS q220,
             MAX(CASE WHEN c = 1 THEN s11 END) AS q111,
             MAX(CASE WHEN c = 1 THEN s12 END) AS q121,
             MAX(CASE WHEN c = 1 THEN s22 END) AS q221
      FROM m
    ),
    params AS (
      SELECT n0, n1,
             (q220 - n0 * (s20 / n0) * (s20 / n0)
              + q221 - n1 * (s21_ / n1) * (s21_ / n1)) AS cc,
             (q120 - n0 * (s10 / n0) * (s20 / n0)
              + q121 - n1 * (s11_ / n1) * (s21_ / n1)) AS bb,
             (q110 - n0 * (s10 / n0) * (s10 / n0)
              + q111 - n1 * (s11_ / n1) * (s11_ / n1)) AS aa,
             (s11_ / n1 - s10 / n0) AS d1,
             (s21_ / n1 - s20 / n0) AS d2,
             (s10 / n0) AS mu10, (s20 / n0) AS mu20,
             (s11_ / n1) AS mu11, (s21_ / n1) AS mu21
      FROM wide
    ),
    axis AS (
      SELECT n0, n1,
             (cc * d1 - bb * d2) / (aa * cc - bb * bb) AS w1,
             (aa * d2 - bb * d1) / (aa * cc - bb * bb) AS w2,
             aa, bb, cc, d1, d2, mu10, mu20, mu11, mu21
      FROM params
    ),
    full_ AS (
      SELECT n0, n1, w1, w2,
             (w1 * (mu10 + mu11) + w2 * (mu20 + mu21)) / 2.0 AS thr,
             (w1 * d1 + w2 * d2) * (w1 * d1 + w2 * d2)
               / (w1 * (aa * w1 + bb * w2)
                  + w2 * (bb * w1 + cc * w2)) AS fj
      FROM axis
    ),
    g AS (
      SELECT MAX(f.n0) AS n0, MAX(f.n1) AS n1,
             MAX(f.w1) AS w1, MAX(f.w2) AS w2,
             MAX(f.thr) AS thr, MAX(f.fj) AS fj,
             CAST(SUM(CASE WHEN (f.w1 * p.x1 + f.w2 * p.x2 > f.thr
                                 AND p.c = 1)
                             OR (NOT (f.w1 * p.x1 + f.w2 * p.x2 > f.thr)
                                 AND p.c = 0)
                           THEN 1 ELSE 0 END) AS BIGINT) AS hits,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM pts p CROSS JOIN full_ f
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           ROUND(w1, {round_to}) + 0.0 AS w1,
           ROUND(w2, {round_to}) + 0.0 AS w2,
           ROUND(thr, {round_to}) + 0.0 AS threshold,
           ROUND(fj, {round_to}) + 0.0 AS fisher_j,
           ROUND(CAST(hits AS DOUBLE) / CAST(n AS DOUBLE), {round_to})
             AS accuracy
    FROM g
    """
