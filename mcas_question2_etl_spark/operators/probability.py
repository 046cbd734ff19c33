"""Engine-portable normal probability kernels: Φ, Φ⁻¹, and the
experimentation batteries built on them (Bayesian A/B, power analysis,
Gaussian rank correlation).

The suite's statistical specs report z statistics rather than p-values
because neither Spark SQL nor DuckDB ships erf as a builtin the other
reproduces bit-for-bit. This module closes that gap the same way the
fixed-point cosine kernel does for floats (operators/similarity.py):
pick ONE explicit rational approximation and spell the identical
arithmetic in both engines, then round. Two classics, both public
domain:

* Φ via Zelen & Severo / Abramowitz-Stegun 26.2.17 — a degree-5
  polynomial in t = 1/(1 + 0.2316419·x) times the normal pdf,
  |error| < 7.5e-8 — plenty under the round-to-6 contract.
* Φ⁻¹ via Acklam's piecewise rational approximation (central + two
  tails), |relative error| < 1.15e-9.

Everything downstream is plain closed-form arithmetic over hash
aggregates: the Bayesian A/B posterior uses the Beta→normal moment
match, the power analysis is the two-proportion sample-size identity
with the z constants inlined as literals, and the Gaussian rank
correlation is Pearson over normal scores (ranks → Φ⁻¹). No sampling,
no iteration, no UDFs — scan-stage math at any scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .ranking import doubled_midrank

#: 1/sqrt(2*pi)
_INV_SQRT_2PI = 0.3989422804014327

#: Zelen & Severo coefficients (A&S 26.2.17)
_ZS_P = 0.2316419
_ZS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)

#: two-sided alpha=0.05 and power=0.80 normal quantiles, as literals so
#: neither engine computes an inverse CDF in the hot path
Z_975 = 1.959963984540054
Z_80 = 0.8416212335729143


def phi(x: Column) -> Column:
    """Standard normal CDF Φ(x) (Zelen & Severo, |err| < 7.5e-8)."""
    ax = F.abs(x)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_ZS_P) * ax)
    b1, b2, b3, b4, b5 = (F.lit(b) for b in _ZS_B)
    poly = t * (b1 + t * (b2 + t * (b3 + t * (b4 + t * b5))))
    pdf = F.lit(_INV_SQRT_2PI) * F.exp(F.lit(-0.5) * ax * ax)
    upper = pdf * poly  # P(Z > |x|)
    return F.when(x >= 0, F.lit(1.0) - upper).otherwise(upper)


def phi_sql(x: str) -> str:
    """DuckDB twin of :func:`phi` (identical Horner order)."""
    b1, b2, b3, b4, b5 = _ZS_B
    t = f"(1.0 / (1.0 + {_ZS_P!r} * ABS({x})))"
    poly = (
        f"({t} * ({b1!r} + {t} * ({b2!r} + {t} * ({b3!r} + {t} * "
        f"({b4!r} + {t} * {b5!r})))))"
    )
    upper = f"({_INV_SQRT_2PI!r} * EXP(-0.5 * ABS({x}) * ABS({x})) * {poly})"
    return f"(CASE WHEN {x} >= 0 THEN 1.0 - {upper} ELSE {upper} END)"


#: Acklam inverse-normal coefficients
_ACK_A = (
    -3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
    1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00,
)
_ACK_B = (
    -5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
    6.680131188771972e01, -1.328068155288572e01,
)
_ACK_C = (
    -7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
    -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00,
)
_ACK_D = (
    7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
    3.754408661907416e00,
)
#: central-region break point
_ACK_PLOW = 0.02425


def inv_phi(p: Column) -> Column:
    """Acklam's Φ⁻¹(p) for p in (0, 1), |rel err| < 1.15e-9."""
    a1, a2, a3, a4, a5, a6 = (F.lit(v) for v in _ACK_A)
    b1, b2, b3, b4, b5 = (F.lit(v) for v in _ACK_B)
    c1, c2, c3, c4, c5, c6 = (F.lit(v) for v in _ACK_C)
    d1, d2, d3, d4 = (F.lit(v) for v in _ACK_D)
    # lower tail
    ql = F.sqrt(F.lit(-2.0) * F.log(p))
    low = (
        ((((c1 * ql + c2) * ql + c3) * ql + c4) * ql + c5) * ql + c6
    ) / ((((d1 * ql + d2) * ql + d3) * ql + d4) * ql + F.lit(1.0))
    # upper tail (mirror)
    qu = F.sqrt(F.lit(-2.0) * F.log(F.lit(1.0) - p))
    up = -(
        ((((c1 * qu + c2) * qu + c3) * qu + c4) * qu + c5) * qu + c6
    ) / ((((d1 * qu + d2) * qu + d3) * qu + d4) * qu + F.lit(1.0))
    # central region
    qc = p - F.lit(0.5)
    r = qc * qc
    mid = (
        ((((a1 * r + a2) * r + a3) * r + a4) * r + a5) * r + a6
    ) * qc / (((((b1 * r + b2) * r + b3) * r + b4) * r + b5) * r + F.lit(1.0))
    return (
        F.when(p < _ACK_PLOW, low)
        .when(p > 1.0 - _ACK_PLOW, up)
        .otherwise(mid)
    )


def inv_phi_sql(p: str) -> str:
    """DuckDB twin of :func:`inv_phi` (identical Horner order)."""
    a1, a2, a3, a4, a5, a6 = _ACK_A
    b1, b2, b3, b4, b5 = _ACK_B
    c1, c2, c3, c4, c5, c6 = _ACK_C
    d1, d2, d3, d4 = _ACK_D
    ql = f"SQRT(-2.0 * LN({p}))"
    low_num = (
        f"((((({c1!r} * {ql} + {c2!r}) * {ql} + {c3!r}) * {ql} + {c4!r})"
        f" * {ql} + {c5!r}) * {ql} + {c6!r})"
    )
    low_den = (
        f"(((({d1!r} * {ql} + {d2!r}) * {ql} + {d3!r}) * {ql} + {d4!r})"
        f" * {ql} + 1.0)"
    )
    qu = f"SQRT(-2.0 * LN(1.0 - {p}))"
    up_num = (
        f"((((({c1!r} * {qu} + {c2!r}) * {qu} + {c3!r}) * {qu} + {c4!r})"
        f" * {qu} + {c5!r}) * {qu} + {c6!r})"
    )
    up_den = (
        f"(((({d1!r} * {qu} + {d2!r}) * {qu} + {d3!r}) * {qu} + {d4!r})"
        f" * {qu} + 1.0)"
    )
    r = f"(({p} - 0.5) * ({p} - 0.5))"
    mid_num = (
        f"((((({a1!r} * {r} + {a2!r}) * {r} + {a3!r}) * {r} + {a4!r})"
        f" * {r} + {a5!r}) * {r} + {a6!r}) * ({p} - 0.5)"
    )
    mid_den = (
        f"((((({b1!r} * {r} + {b2!r}) * {r} + {b3!r}) * {r} + {b4!r})"
        f" * {r} + {b5!r}) * {r} + 1.0)"
    )
    return (
        f"(CASE WHEN {p} < {_ACK_PLOW!r} THEN {low_num} / {low_den} "
        f"WHEN {p} > 1.0 - {_ACK_PLOW!r} THEN -({up_num}) / {up_den} "
        f"ELSE {mid_num} / {mid_den} END)"
    )


def bayes_ab_conversion(
    events: DataFrame,
    convert_type: str = "purchase",
    min_value: float = 200.0,
    round_to: int = 6,
) -> DataFrame:
    """Bayesian A/B read-out on a deterministic user split: arm A =
    even user_id, arm B = odd. A user converts if they emit at least
    one ``convert_type`` event with ``value >= min_value`` (the
    high-value cut keeps the baseline mid-range; the raw any-purchase
    rate saturates at ~1.0 in this corpus, where p2 = p1 + MDE would
    leave [0, 1]). Beta(1,1) prior → posterior
    Beta(1+s, 1+f); the posterior is moment-matched to a normal
    (μ = a/(a+b), σ² = ab/((a+b)²(a+b+1))) and
    P(p_B > p_A) = Φ((μ_B-μ_A)/√(σ_A²+σ_B²)). One users-sized
    aggregate after a per-user any() rollup — the Monte Carlo a
    notebook would run is replaced by closed-form scan math."""
    users = events.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == convert_type)
                & (F.col("value") >= min_value),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    arms = users.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
    )
    a_ = F.lit(1.0) + F.col("n_converted").cast("double")
    b_ = F.lit(1.0) + (F.col("n_users") - F.col("n_converted")).cast(
        "double"
    )
    post = arms.select(
        "arm",
        "n_users",
        "n_converted",
        (a_ / (a_ + b_)).alias("mu"),
        (a_ * b_ / ((a_ + b_) * (a_ + b_) * (a_ + b_ + 1.0))).alias("var"),
    )
    a = post.filter(F.col("arm") == 0).select(
        F.col("n_users").alias("users_a"),
        F.col("n_converted").alias("conv_a"),
        F.col("mu").alias("mu_a"),
        F.col("var").alias("var_a"),
    )
    b = post.filter(F.col("arm") == 1).select(
        F.col("n_users").alias("users_b"),
        F.col("n_converted").alias("conv_b"),
        F.col("mu").alias("mu_b"),
        F.col("var").alias("var_b"),
    )
    z = (F.col("mu_b") - F.col("mu_a")) / F.sqrt(
        F.col("var_a") + F.col("var_b")
    )
    return a.crossJoin(b).select(
        "users_a",
        "conv_a",
        "users_b",
        "conv_b",
        F.round("mu_a", round_to).alias("posterior_rate_a"),
        F.round("mu_b", round_to).alias("posterior_rate_b"),
        F.round(phi(z), round_to).alias("prob_b_beats_a"),
    )


def bayes_ab_conversion_sql(
    convert_type: str = "purchase",
    min_value: float = 200.0,
    round_to: int = 6,
) -> str:
    """DuckDB twin of :func:`bayes_ab_conversion`."""
    z = "((mu_b - mu_a) / SQRT(var_a + var_b))"
    return f"""
    WITH users AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = '{convert_type}'
                      AND value >= {min_value!r} THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT user_id % 2 AS arm,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted
      FROM users GROUP BY user_id % 2
    ),
    post AS (
      SELECT arm, n_users, n_converted,
             (1.0 + CAST(n_converted AS DOUBLE))
               / ((1.0 + CAST(n_converted AS DOUBLE))
                  + (1.0 + CAST(n_users - n_converted AS DOUBLE))) AS mu,
             (1.0 + CAST(n_converted AS DOUBLE))
               * (1.0 + CAST(n_users - n_converted AS DOUBLE))
               / (((1.0 + CAST(n_converted AS DOUBLE))
                   + (1.0 + CAST(n_users - n_converted AS DOUBLE)))
                  * ((1.0 + CAST(n_converted AS DOUBLE))
                     + (1.0 + CAST(n_users - n_converted AS DOUBLE)))
                  * ((1.0 + CAST(n_converted AS DOUBLE))
                     + (1.0 + CAST(n_users - n_converted AS DOUBLE))
                     + 1.0)) AS var
      FROM arms
    ),
    ab AS (
      SELECT a.n_users AS users_a, a.n_converted AS conv_a,
             b.n_users AS users_b, b.n_converted AS conv_b,
             a.mu AS mu_a, a.var AS var_a, b.mu AS mu_b, b.var AS var_b
      FROM (SELECT * FROM post WHERE arm = 0) a
      CROSS JOIN (SELECT * FROM post WHERE arm = 1) b
    )
    SELECT users_a, conv_a, users_b, conv_b,
           ROUND(mu_a, {round_to}) AS posterior_rate_a,
           ROUND(mu_b, {round_to}) AS posterior_rate_b,
           ROUND({phi_sql(z)}, {round_to}) AS prob_b_beats_a
    FROM ab
    """


def ab_power_analysis(
    events: DataFrame,
    convert_type: str = "purchase",
    min_value: float = 200.0,
    mdes: Sequence[float] = (0.01, 0.02, 0.05, 0.10),
    round_to: int = 6,
) -> DataFrame:
    """Two-proportion sample-size planning off the OBSERVED baseline:
    with baseline conversion p1 (share of users emitting
    ``convert_type``) and target p2 = p1 + MDE, the required users per
    arm at α = 0.05 (two-sided), power = 0.80 is

      n = (z_{α/2}·√(2·p̄(1-p̄)) + z_β·√(p1(1-p1)+p2(1-p2)))² / (p2-p1)²

    with p̄ = (p1+p2)/2 and the z quantiles inlined as literals. The
    whole MDE grid prices off ONE per-user aggregate; CEIL to whole
    users. Output per MDE row: (mde, baseline_rate, target_rate,
    required_n_per_arm)."""
    users = events.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == convert_type)
                & (F.col("value") >= min_value),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    base = users.agg(
        (F.sum("converted").cast("double") / F.count(F.lit(1))).alias("p1")
    )
    g = base.select(
        "p1",
        F.explode(F.array(*[F.lit(float(m)) for m in mdes])).alias("mde"),
    )
    p1 = F.col("p1")
    p2 = p1 + F.col("mde")
    pbar = (p1 + p2) / 2.0
    num = F.lit(Z_975) * F.sqrt(F.lit(2.0) * pbar * (F.lit(1.0) - pbar)) + F.lit(
        Z_80
    ) * F.sqrt(p1 * (F.lit(1.0) - p1) + p2 * (F.lit(1.0) - p2))
    n = F.ceil(num * num / (F.col("mde") * F.col("mde"))).cast("bigint")
    return g.select(
        F.col("mde"),
        F.round(p1, round_to).alias("baseline_rate"),
        F.round(p2, round_to).alias("target_rate"),
        n.alias("required_n_per_arm"),
    ).orderBy("mde")


def ab_power_analysis_sql(
    convert_type: str = "purchase",
    min_value: float = 200.0,
    mdes: Sequence[float] = (0.01, 0.02, 0.05, 0.10),
    round_to: int = 6,
) -> str:
    """DuckDB twin of :func:`ab_power_analysis`."""
    values = ", ".join(f"({float(m)!r})" for m in mdes)
    return f"""
    WITH users AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = '{convert_type}'
                      AND value >= {min_value!r} THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    base AS (
      SELECT SUM(converted) / CAST(COUNT(*) AS DOUBLE) AS p1 FROM users
    ),
    g AS (
      SELECT base.p1, CAST(m.mde AS DOUBLE) AS mde
      FROM base CROSS JOIN (VALUES {values}) AS m(mde)
    ),
    c AS (
      SELECT mde, p1, p1 + mde AS p2, (p1 + (p1 + mde)) / 2.0 AS pbar
      FROM g
    )
    SELECT mde,
           ROUND(p1, {round_to}) AS baseline_rate,
           ROUND(p2, {round_to}) AS target_rate,
           CAST(CEIL(
             ({Z_975!r} * SQRT(2.0 * pbar * (1.0 - pbar))
              + {Z_80!r} * SQRT(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
             * ({Z_975!r} * SQRT(2.0 * pbar * (1.0 - pbar))
                + {Z_80!r} * SQRT(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
             / (mde * mde)) AS BIGINT) AS required_n_per_arm
    FROM c ORDER BY mde
    """


def gaussian_rank_correlation(
    df: DataFrame,
    x: str,
    y: str,
    round_to: int = 6,
) -> DataFrame:
    """Gaussian rank (normal-scores) correlation of two columns: each
    value is replaced by Φ⁻¹(rank/(n+1)) and the Pearson correlation of
    the scores is returned — the rank-based estimator that is robust to
    monotone marginal transforms AND heavy tails, yet (unlike
    Spearman) consistent for the Gaussian-copula ρ. ROW_NUMBER ordered
    by (value, the other column) gives deterministic dense ranks; the
    correlation is one aggregate over the scored rows. Output (one
    row): n, gauss_rank_corr."""
    pts = df.filter(F.col(x).isNotNull() & F.col(y).isNotNull()).select(
        F.col(x).cast("double").alias("__x"),
        F.col(y).cast("double").alias("__y"),
    )
    rx = F.row_number().over(Window.orderBy(F.col("__x"), F.col("__y")))
    ry = F.row_number().over(Window.orderBy(F.col("__y"), F.col("__x")))
    ranked = pts.select(
        rx.cast("double").alias("__rx"), ry.cast("double").alias("__ry")
    )
    n_w = F.count(F.lit(1)).over(Window.partitionBy())
    scored = ranked.select(
        inv_phi(F.col("__rx") / (n_w.cast("double") + 1.0)).alias("__zx"),
        inv_phi(F.col("__ry") / (n_w.cast("double") + 1.0)).alias("__zy"),
    )
    m = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__zx").alias("sx"),
        F.sum("__zy").alias("sy"),
        F.sum(F.col("__zx") * F.col("__zx")).alias("sxx"),
        F.sum(F.col("__zy") * F.col("__zy")).alias("syy"),
        F.sum(F.col("__zx") * F.col("__zy")).alias("sxy"),
    )
    nn = F.col("n").cast("double")
    corr = (nn * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (nn * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (nn * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "n", F.round(corr, round_to).alias("gauss_rank_corr")
    )


def gaussian_rank_correlation_sql(
    source_sql: str, x: str, y: str, round_to: int = 6
) -> str:
    """DuckDB twin of :func:`gaussian_rank_correlation`. ``source_sql``
    must yield columns ``{x}`` and ``{y}``."""
    zx = inv_phi_sql("(rx / (CAST(n AS DOUBLE) + 1.0))")
    zy = inv_phi_sql("(ry / (CAST(n AS DOUBLE) + 1.0))")
    return f"""
    WITH src AS ({source_sql}),
    pts AS (
      SELECT CAST({x} AS DOUBLE) AS xv, CAST({y} AS DOUBLE) AS yv
      FROM src WHERE {x} IS NOT NULL AND {y} IS NOT NULL
    ),
    ranked AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY xv, yv) AS DOUBLE) AS rx,
             CAST(ROW_NUMBER() OVER (ORDER BY yv, xv) AS DOUBLE) AS ry,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM pts
    ),
    scored AS (
      SELECT {zx} AS zx, {zy} AS zy FROM ranked
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(zx) AS sx, SUM(zy) AS sy,
             SUM(zx * zx) AS sxx, SUM(zy * zy) AS syy, SUM(zx * zy) AS sxy
      FROM scored
    )
    SELECT n,
           ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
                        * (CAST(n AS DOUBLE) * syy - sy * sy)),
                 {round_to}) AS gauss_rank_corr
    FROM m
    """


# ──────────────────────────────────────────────────────────────────────────
# wave 95: Chatterjee's ξ + distance correlation
# ──────────────────────────────────────────────────────────────────────────


def chatterjee_xi(
    df: DataFrame,
    x: str,
    y: str,
    round_to: int = 6,
) -> DataFrame:
    """Chatterjee's ξ rank coefficient (JASA 2020): the dependence
    measure that is 0 iff the columns are independent and 1 iff ``y``
    is a measurable FUNCTION of ``x`` — monotone or not. Pearson /
    Spearman / Kendall / the Gaussian-rank estimator all read ~0 on a
    perfect parabola; ξ reads ~1, which is the question a feature
    screen actually asks ("does x determine y at all?"). Deliberately
    asymmetric in (x, y).

    Ties-robust form: sort by x (deterministic (x, y) tie-break so
    both engines walk the same permutation), let r_i = #{j: y_j ≤
    y_i} and l_i = #{j: y_j ≥ y_i} (both via RANK(), no RANGE
    frames), then

        ξ = 1 − n · Σ_{i<n} |r_{i+1} − r_i| / (2 · Σ_i l_i (n − l_i))

    which reduces to the classic 1 − 3Σ|Δr|/(n²−1) when y has no
    ties. Intended for a bounded rollup (days-sized): the rank
    windows are global by construction, same discipline as
    gaussian_rank_correlation above. Output (one row): n, xi."""
    pts = df.filter(F.col(x).isNotNull() & F.col(y).isNotNull()).select(
        F.col(x).cast("double").alias("__x"),
        F.col(y).cast("double").alias("__y"),
    )
    n_w = F.count(F.lit(1)).over(Window.partitionBy())
    rank_desc = F.rank().over(Window.orderBy(F.col("__y").desc()))
    rank_asc = F.rank().over(Window.orderBy(F.col("__y")))
    ranked = pts.select(
        "__x",
        "__y",
        n_w.cast("bigint").alias("__n"),
        (n_w - rank_desc + 1).cast("bigint").alias("__r"),
        (n_w - rank_asc + 1).cast("bigint").alias("__l"),
    )
    w_x = Window.orderBy(F.col("__x"), F.col("__y"))
    stepped = ranked.select(
        "__n",
        "__r",
        "__l",
        F.lead("__r").over(w_x).alias("__r_next"),
    )
    m = stepped.agg(
        F.max("__n").alias("n"),
        F.sum(
            F.when(
                F.col("__r_next").isNotNull(),
                F.abs(F.col("__r_next") - F.col("__r")),
            ).otherwise(F.lit(0))
        )
        .cast("double")
        .alias("num"),
        F.sum(F.col("__l") * (F.col("__n") - F.col("__l")))
        .cast("double")
        .alias("den"),
    )
    xi = F.lit(1.0) - F.col("n").cast("double") * F.col("num") / (
        F.lit(2.0) * F.col("den")
    )
    return m.select("n", F.round(xi, round_to).alias("xi"))


def chatterjee_xi_sql(
    source_sql: str, x: str, y: str, round_to: int = 6
) -> str:
    """DuckDB twin of :func:`chatterjee_xi`. ``source_sql`` must yield
    columns ``{x}`` and ``{y}``."""
    return f"""
    WITH src AS ({source_sql}),
    pts AS (
      SELECT CAST({x} AS DOUBLE) AS xv, CAST({y} AS DOUBLE) AS yv
      FROM src WHERE {x} IS NOT NULL AND {y} IS NOT NULL
    ),
    ranked AS (
      SELECT xv, yv,
             CAST(COUNT(*) OVER () AS BIGINT) AS n,
             CAST(COUNT(*) OVER ()
                  - RANK() OVER (ORDER BY yv DESC) + 1 AS BIGINT) AS r,
             CAST(COUNT(*) OVER ()
                  - RANK() OVER (ORDER BY yv) + 1 AS BIGINT) AS l
      FROM pts
    ),
    stepped AS (
      SELECT n, r, l, LEAD(r) OVER (ORDER BY xv, yv) AS r_next
      FROM ranked
    ),
    m AS (
      SELECT MAX(n) AS n,
             CAST(SUM(CASE WHEN r_next IS NOT NULL
                           THEN ABS(r_next - r) ELSE 0 END) AS DOUBLE)
               AS num,
             CAST(SUM(l * (n - l)) AS DOUBLE) AS den
      FROM stepped
    )
    SELECT n,
           ROUND(1.0 - CAST(n AS DOUBLE) * num / (2.0 * den),
                 {round_to}) AS xi
    FROM m
    """


def distance_correlation(
    df: DataFrame,
    x: str,
    y: str,
    round_to: int = 6,
) -> DataFrame:
    """Székely-Rizzo distance correlation of two columns: dCor = 0
    iff independent (unlike Pearson's 0), sensitive to ANY form of
    dependence, via the V-statistic identity that needs only pair
    distances — dCov² = S1 + S2 − 2·S3 with S1 = Σa·b/n², S2 = ā·b̄,
    S3 = Σ_j ā_j·b̄_j/n (a_jk = |x_j − x_k|, row sums from one
    groupBy over the pair table), and dCor² = dCov²/√(dVarX·dVarY)
    where the dVars apply the same identity to (a,a) and (b,b).

    One self-join over the (already aggregated, bounded) input — the
    caller must pass a rollup whose row count is weeks/days-sized, so
    the pair table is n² of a SMALL n, never of the raw table. Rows
    must be distinct on (x, y) — the row-sum stage keys on the point
    itself (a keyed rollup satisfies this for free; exact duplicates
    would collapse to one observation, identically in both engines).
    Both inputs should be pre-normalized to O(1) scale (the statistic
    is scale-invariant; normalizing keeps the n²-term float sums well
    inside the round-to-6 contract across engines). Output (one row):
    n, dcor, dvar_x, dvar_y."""
    pts = df.filter(F.col(x).isNotNull() & F.col(y).isNotNull()).select(
        F.col(x).cast("double").alias("__x"),
        F.col(y).cast("double").alias("__y"),
    )
    left = pts.select(
        F.col("__x").alias("__xi"), F.col("__y").alias("__yi")
    )
    right = pts.select(
        F.col("__x").alias("__xj"), F.col("__y").alias("__yj")
    )
    pairs = left.crossJoin(right).select(
        "__xi",
        "__yi",
        F.abs(F.col("__xi") - F.col("__xj")).alias("__a"),
        F.abs(F.col("__yi") - F.col("__yj")).alias("__b"),
    )
    per_i = pairs.groupBy("__xi", "__yi").agg(
        F.sum("__a").alias("ra"),
        F.sum("__b").alias("rb"),
        F.sum(F.col("__a") * F.col("__b")).alias("sab"),
        F.sum(F.col("__a") * F.col("__a")).alias("saa"),
        F.sum(F.col("__b") * F.col("__b")).alias("sbb"),
    )
    g = per_i.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("ra").alias("sa"),
        F.sum("rb").alias("sb"),
        F.sum("sab").alias("t_ab"),
        F.sum("saa").alias("t_aa"),
        F.sum("sbb").alias("t_bb"),
        F.sum(F.col("ra") * F.col("rb")).alias("t_rab"),
        F.sum(F.col("ra") * F.col("ra")).alias("t_raa"),
        F.sum(F.col("rb") * F.col("rb")).alias("t_rbb"),
    )
    nn = F.col("n").cast("double")
    n2 = nn * nn
    n3 = n2 * nn
    abar = F.col("sa") / n2
    bbar = F.col("sb") / n2
    dcov2 = (
        F.col("t_ab") / n2 + abar * bbar - F.lit(2.0) * F.col("t_rab") / n3
    )
    dvarx = (
        F.col("t_aa") / n2 + abar * abar - F.lit(2.0) * F.col("t_raa") / n3
    )
    dvary = (
        F.col("t_bb") / n2 + bbar * bbar - F.lit(2.0) * F.col("t_rbb") / n3
    )
    dcor = F.sqrt(
        F.greatest(dcov2, F.lit(0.0)) / F.sqrt(dvarx * dvary)
    )
    return g.select(
        "n",
        F.round(dcor, round_to).alias("dcor"),
        F.round(dvarx, round_to).alias("dvar_x"),
        F.round(dvary, round_to).alias("dvar_y"),
    )


def distance_correlation_sql(
    source_sql: str, x: str, y: str, round_to: int = 6
) -> str:
    """DuckDB twin of :func:`distance_correlation`. ``source_sql``
    must yield columns ``{x}`` and ``{y}``."""
    return f"""
    WITH src AS ({source_sql}),
    pts AS (
      SELECT CAST({x} AS DOUBLE) AS xv, CAST({y} AS DOUBLE) AS yv
      FROM src WHERE {x} IS NOT NULL AND {y} IS NOT NULL
    ),
    pairs AS (
      SELECT i.xv AS xi, i.yv AS yi,
             ABS(i.xv - j.xv) AS a, ABS(i.yv - j.yv) AS b
      FROM pts i CROSS JOIN pts j
    ),
    per_i AS (
      SELECT xi, yi,
             SUM(a) AS ra, SUM(b) AS rb,
             SUM(a * b) AS sab, SUM(a * a) AS saa, SUM(b * b) AS sbb
      FROM pairs GROUP BY xi, yi
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(ra) AS sa, SUM(rb) AS sb,
             SUM(sab) AS t_ab, SUM(saa) AS t_aa, SUM(sbb) AS t_bb,
             SUM(ra * rb) AS t_rab, SUM(ra * ra) AS t_raa,
             SUM(rb * rb) AS t_rbb
      FROM per_i
    )
    SELECT n,
           ROUND(SQRT(GREATEST(t_ab / (CAST(n AS DOUBLE) * n)
                               + (sa / (CAST(n AS DOUBLE) * n))
                                 * (sb / (CAST(n AS DOUBLE) * n))
                               - 2.0 * t_rab
                                 / (CAST(n AS DOUBLE) * n * n), 0.0)
                      / SQRT((t_aa / (CAST(n AS DOUBLE) * n)
                              + (sa / (CAST(n AS DOUBLE) * n))
                                * (sa / (CAST(n AS DOUBLE) * n))
                              - 2.0 * t_raa
                                / (CAST(n AS DOUBLE) * n * n))
                             * (t_bb / (CAST(n AS DOUBLE) * n)
                                + (sb / (CAST(n AS DOUBLE) * n))
                                  * (sb / (CAST(n AS DOUBLE) * n))
                                - 2.0 * t_rbb
                                  / (CAST(n AS DOUBLE) * n * n)))),
                 {round_to}) AS dcor,
           ROUND(t_aa / (CAST(n AS DOUBLE) * n)
                 + (sa / (CAST(n AS DOUBLE) * n))
                   * (sa / (CAST(n AS DOUBLE) * n))
                 - 2.0 * t_raa / (CAST(n AS DOUBLE) * n * n),
                 {round_to}) AS dvar_x,
           ROUND(t_bb / (CAST(n AS DOUBLE) * n)
                 + (sb / (CAST(n AS DOUBLE) * n))
                   * (sb / (CAST(n AS DOUBLE) * n))
                 - 2.0 * t_rbb / (CAST(n AS DOUBLE) * n * n),
                 {round_to}) AS dvar_y
    FROM g
    """


# ──────────────────────────────────────────────────────────────────────────
# wave 103: Hoeffding's D + Blomqvist's β
# ──────────────────────────────────────────────────────────────────────────


def hoeffding_d(
    df: DataFrame,
    x: str,
    y: str,
    round_to: int = 6,
) -> DataFrame:
    """Hoeffding's D (1948): the rank test of INDEPENDENCE against
    arbitrary alternatives — like distance correlation it sees any
    dependence shape, but it is a pure rank statistic (outlier-proof,
    monotone-invariant) with a known null distribution. Ties get the
    classical half-credit φ ∈ {0, ½, 1}.

    Exactness: mid-ranks are stored doubled (R2 = 2R, integers, from
    :func:`.ranking.doubled_midrank`) and the pair credit quadrupled
    (Q4 = Σ 4·φx·φy, integers), so
    D1·16 = Σ Q4(Q4−4), D2·16 = Σ(R2−2)(R2−4)(S2−2)(S2−4) and
    D3·16 = Σ(R2−4)(S2−4)Q4 are EXACT bigint sums — the whole
    statistic is integer arithmetic until one closing division:

      D = 30·[(n−2)(n−3)D1 + D2 − 2(n−2)D3] / (n(n−1)(n−2)(n−3)(n−4))

    The pair stage is the bounded rollup self-join (n = days, the
    distance_correlation discipline); requires n ≥ 5. D ranges in
    [−1/60, 1/30]; under independence D ≈ 0. Output (one row):
    n, d_stat, d_scaled (= 30·D, so 1 = perfect dependence)."""
    pts = df.filter(F.col(x).isNotNull() & F.col(y).isNotNull()).select(
        F.col(x).cast("double").alias("__x"),
        F.col(y).cast("double").alias("__y"),
    )
    ranked = pts.select(
        F.monotonically_increasing_id().alias("__id"),
        "__x",
        "__y",
        doubled_midrank("__x").cast("bigint").alias("__r2"),
        doubled_midrank("__y").cast("bigint").alias("__s2"),
    )
    a = ranked.select(
        F.col("__id").alias("__ia"),
        F.col("__x").alias("__xa"),
        F.col("__y").alias("__ya"),
        F.col("__r2").alias("__r2a"),
        F.col("__s2").alias("__s2a"),
    )
    b = ranked.select(
        F.col("__id").alias("__ib"),
        F.col("__x").alias("__xb"),
        F.col("__y").alias("__yb"),
    )
    phix2 = (
        F.when(F.col("__xb") < F.col("__xa"), 2)
        .when(F.col("__xb") == F.col("__xa"), 1)
        .otherwise(0)
    )
    phiy2 = (
        F.when(F.col("__yb") < F.col("__ya"), 2)
        .when(F.col("__yb") == F.col("__ya"), 1)
        .otherwise(0)
    )
    q4 = (
        a.crossJoin(b)
        .filter(F.col("__ia") != F.col("__ib"))
        .groupBy("__ia", "__r2a", "__s2a")
        .agg(F.sum(phix2 * phiy2).cast("bigint").alias("__q4"))
    )
    g = q4.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("__q4") * (F.col("__q4") - 4))
        .cast("bigint")
        .alias("d1_16"),
        F.sum(
            (F.col("__r2a") - 2)
            * (F.col("__r2a") - 4)
            * (F.col("__s2a") - 2)
            * (F.col("__s2a") - 4)
        )
        .cast("bigint")
        .alias("d2_16"),
        F.sum(
            (F.col("__r2a") - 4) * (F.col("__s2a") - 4) * F.col("__q4")
        )
        .cast("bigint")
        .alias("d3_16"),
    )
    nn = F.col("n").cast("double")
    num = (
        (F.col("n") - 2) * (F.col("n") - 3) * F.col("d1_16")
        + F.col("d2_16")
        - 2 * (F.col("n") - 2) * F.col("d3_16")
    ).cast("double")
    den = (
        F.lit(16.0)
        * nn
        * (nn - 1.0)
        * (nn - 2.0)
        * (nn - 3.0)
        * (nn - 4.0)
    )
    d = F.lit(30.0) * num / den
    return g.select(
        "n",
        F.round(d / F.lit(30.0), round_to).alias("d_stat"),
        F.round(d, round_to).alias("d_scaled"),
    )


def hoeffding_d_sql(
    source_sql: str, x: str, y: str, round_to: int = 6
) -> str:
    """DuckDB twin of :func:`hoeffding_d`."""
    return f"""
    WITH src AS ({source_sql}),
    pts AS (
      SELECT CAST({x} AS DOUBLE) AS xv, CAST({y} AS DOUBLE) AS yv
      FROM src WHERE {x} IS NOT NULL AND {y} IS NOT NULL
    ),
    ranked AS (
      SELECT ROW_NUMBER() OVER (ORDER BY xv, yv) AS id, xv, yv,
             CAST(RANK() OVER (ORDER BY xv)
                  + COUNT(*) OVER ()
                  - RANK() OVER (ORDER BY xv DESC) + 1 AS BIGINT) AS r2,
             CAST(RANK() OVER (ORDER BY yv)
                  + COUNT(*) OVER ()
                  - RANK() OVER (ORDER BY yv DESC) + 1 AS BIGINT) AS s2
      FROM pts
    ),
    q AS (
      SELECT a.id, a.r2, a.s2,
             CAST(SUM((CASE WHEN b.xv < a.xv THEN 2
                            WHEN b.xv = a.xv THEN 1 ELSE 0 END)
                      * (CASE WHEN b.yv < a.yv THEN 2
                              WHEN b.yv = a.yv THEN 1 ELSE 0 END))
                  AS BIGINT) AS q4
      FROM ranked a JOIN ranked b ON a.id <> b.id
      GROUP BY a.id, a.r2, a.s2
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q4 * (q4 - 4)) AS BIGINT) AS d1_16,
             CAST(SUM((r2 - 2) * (r2 - 4) * (s2 - 2) * (s2 - 4))
                  AS BIGINT) AS d2_16,
             CAST(SUM((r2 - 4) * (s2 - 4) * q4) AS BIGINT) AS d3_16
      FROM q
    )
    SELECT n,
           ROUND(CAST((n - 2) * (n - 3) * d1_16 + d2_16
                      - 2 * (n - 2) * d3_16 AS DOUBLE)
                 / (16.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
                    * (CAST(n AS DOUBLE) - 2.0) * (CAST(n AS DOUBLE) - 3.0)
                    * (CAST(n AS DOUBLE) - 4.0)),
                 {round_to}) AS d_stat,
           ROUND(30.0 * CAST((n - 2) * (n - 3) * d1_16 + d2_16
                             - 2 * (n - 2) * d3_16 AS DOUBLE)
                 / (16.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
                    * (CAST(n AS DOUBLE) - 2.0) * (CAST(n AS DOUBLE) - 3.0)
                    * (CAST(n AS DOUBLE) - 4.0)),
                 {round_to}) AS d_scaled
    FROM g
    """


def blomqvist_beta(
    df: DataFrame,
    x: str,
    y: str,
    round_to: int = 6,
) -> DataFrame:
    """Blomqvist's β (medial correlation): split the plane at the two
    medians and score quadrant agreement, β = (concordant −
    discordant)/(concordant + discordant) — the coarsest, most
    outlier-proof dependence sign there is (it only asks "when x is
    above ITS median, is y above ITS?"). Points landing exactly on a
    median are excluded, the classical convention. Medians are the
    shared exact interpolated percentile (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``), so both engines cut the plane at the
    identical doubles. Output (one row): n, n_used, beta."""
    pts = df.filter(F.col(x).isNotNull() & F.col(y).isNotNull()).select(
        F.col(x).cast("double").alias("__x"),
        F.col(y).cast("double").alias("__y"),
    )
    med = pts.agg(
        F.expr("percentile(__x, 0.5)").alias("__mx"),
        F.expr("percentile(__y, 0.5)").alias("__my"),
    )
    marked = pts.crossJoin(F.broadcast(med)).select(
        F.when(
            (F.col("__x") > F.col("__mx")) & (F.col("__y") > F.col("__my"))
            | (F.col("__x") < F.col("__mx"))
            & (F.col("__y") < F.col("__my")),
            1,
        )
        .when(
            (F.col("__x") == F.col("__mx"))
            | (F.col("__y") == F.col("__my")),
            F.lit(None).cast("int"),
        )
        .otherwise(0)
        .alias("__conc")
    )
    g = marked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count("__conc").cast("bigint").alias("n_used"),
        F.sum(F.coalesce(F.col("__conc"), F.lit(0)))
        .cast("bigint")
        .alias("__c"),
    )
    beta = (
        F.lit(2.0) * F.col("__c").cast("double")
        / F.col("n_used").cast("double")
        - F.lit(1.0)
    )
    return g.select("n", "n_used", F.round(beta, round_to).alias("beta"))


def blomqvist_beta_sql(
    source_sql: str, x: str, y: str, round_to: int = 6
) -> str:
    """DuckDB twin of :func:`blomqvist_beta`."""
    return f"""
    WITH src AS ({source_sql}),
    pts AS (
      SELECT CAST({x} AS DOUBLE) AS xv, CAST({y} AS DOUBLE) AS yv
      FROM src WHERE {x} IS NOT NULL AND {y} IS NOT NULL
    ),
    med AS (
      SELECT quantile_cont(xv, 0.5) AS mx, quantile_cont(yv, 0.5) AS my
      FROM pts
    ),
    marked AS (
      SELECT CASE WHEN (xv > mx AND yv > my) OR (xv < mx AND yv < my)
                  THEN 1
                  WHEN xv = mx OR yv = my THEN NULL
                  ELSE 0 END AS conc
      FROM pts CROSS JOIN med
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(conc) AS BIGINT) AS n_used,
             CAST(SUM(COALESCE(conc, 0)) AS BIGINT) AS c
      FROM marked
    )
    SELECT n, n_used,
           ROUND(2.0 * CAST(c AS DOUBLE) / CAST(n_used AS DOUBLE) - 1.0,
                 {round_to}) AS beta
    FROM g
    """


# ──────────────────────────────────────────────────────────────────────────
# wave 113: Shapiro-Francia W' + Grubbs outlier test
# ──────────────────────────────────────────────────────────────────────────


def shapiro_francia(
    df: DataFrame,
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Shapiro-Francia W′ normality test: the squared Pearson
    correlation between the ORDER STATISTICS and their expected
    normal (Blom) scores m_i = Φ⁻¹((i − 3/8)/(n + 1/4)) — the
    correlation-based normality family (Shapiro-Wilk's large-n twin,
    and the member that IS computable distributed: SW's exact
    coefficients need the full covariance matrix, W′ needs one rank
    window plus the shared Acklam Φ⁻¹). Complements the suite's
    moment-based Jarque-Bera/D'Agostino and EDF-based
    Anderson-Darling with the Q-Q-plot-straightness reading: W′ → 1
    is normal, deficit = curvature.

    Ranks are ROW_NUMBER over (value, …) — exact duplicates share a
    value so ANY tie order yields identical (x, m) pair multisets.
    Output (one row): n, w_prime."""
    pts = df.select(F.col(value_col).cast("double").alias("__x")).filter(
        F.col("__x").isNotNull()
    )
    w = Window.orderBy("__x")
    n_w = F.count(F.lit(1)).over(Window.partitionBy())
    scored = pts.select(
        "__x",
        inv_phi(
            (F.row_number().over(w).cast("double") - F.lit(0.375))
            / (n_w.cast("double") + F.lit(0.25))
        ).alias("__m"),
    )
    g = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__x").alias("sx"),
        F.sum(F.col("__x") * F.col("__x")).alias("sxx"),
        F.sum("__m").alias("sm"),
        F.sum(F.col("__m") * F.col("__m")).alias("smm"),
        F.sum(F.col("__x") * F.col("__m")).alias("sxm"),
    )
    nn = F.col("n").cast("double")
    cov = F.col("sxm") - F.col("sx") * F.col("sm") / nn
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / nn
    vm = F.col("smm") - F.col("sm") * F.col("sm") / nn
    return g.select(
        "n", F.round(cov * cov / (vx * vm), round_to).alias("w_prime")
    )


def shapiro_francia_sql(
    source_sql: str, value_col: str, round_to: int = 6
) -> str:
    """DuckDB twin of :func:`shapiro_francia`."""
    m = inv_phi_sql(
        "((CAST(ROW_NUMBER() OVER (ORDER BY x) AS DOUBLE) - 0.375)"
        " / (CAST(COUNT(*) OVER () AS DOUBLE) + 0.25))"
    )
    return f"""
    WITH src AS ({source_sql}),
    pts AS (
      SELECT CAST({value_col} AS DOUBLE) AS x
      FROM src WHERE {value_col} IS NOT NULL
    ),
    scored AS (
      SELECT x, {m} AS mm FROM pts
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(x * x) AS sxx,
             SUM(mm) AS sm, SUM(mm * mm) AS smm,
             SUM(x * mm) AS sxm
      FROM scored
    )
    SELECT n,
           ROUND((sxm - sx * sm / CAST(n AS DOUBLE))
                 * (sxm - sx * sm / CAST(n AS DOUBLE))
                 / ((sxx - sx * sx / CAST(n AS DOUBLE))
                    * (smm - sm * sm / CAST(n AS DOUBLE))),
                 {round_to}) AS w_prime
    FROM g
    """


def grubbs_test(
    df: DataFrame,
    key_col: str,
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Grubbs' (maximum normed residual) test: G = max|x − x̄|/s with
    the (n−1)-denominator s — the formal single-outlier test the
    z-score/IQR screens (anomaly_days_zscore, robust_outliers_iqr)
    don't give a sampling distribution for; compare G against the
    t-based critical value offline. Reports the flagged key too
    (ties break to the smallest key). Exact moment sums; one scan +
    one tiny argmax window. Output (one row): n, flagged_key,
    flagged_value, g_stat."""
    pts = df.select(
        F.col(key_col).cast("bigint").alias("__k"),
        F.col(value_col).cast("double").alias("__x"),
    ).filter(F.col("__x").isNotNull())
    w_all = Window.partitionBy()
    nn = F.count(F.lit(1)).over(w_all).cast("double")
    mean = F.sum("__x").over(w_all) / nn
    var = (
        F.sum(F.col("__x") * F.col("__x")).over(w_all)
        - F.sum("__x").over(w_all) * F.sum("__x").over(w_all) / nn
    ) / (nn - F.lit(1.0))
    dev = pts.select(
        "__k",
        "__x",
        nn.cast("bigint").alias("__n"),
        (F.abs(F.col("__x") - mean) / F.sqrt(var)).alias("__g"),
    )
    w_rank = Window.orderBy(F.col("__g").desc(), F.col("__k"))
    best = dev.select(
        "*", F.row_number().over(w_rank).alias("__r")
    ).filter(F.col("__r") == 1)
    return best.select(
        F.col("__n").alias("n"),
        F.col("__k").alias("flagged_key"),
        F.round(F.col("__x"), round_to).alias("flagged_value"),
        F.round(F.col("__g"), round_to).alias("g_stat"),
    )


def grubbs_test_sql(
    source_sql: str,
    key_col: str,
    value_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin of :func:`grubbs_test`."""
    return f"""
    WITH src AS ({source_sql}),
    pts AS (
      SELECT CAST({key_col} AS BIGINT) AS k,
             CAST({value_col} AS DOUBLE) AS x
      FROM src WHERE {value_col} IS NOT NULL
    ),
    dev AS (
      SELECT k, x,
             CAST(COUNT(*) OVER () AS BIGINT) AS n,
             ABS(x - SUM(x) OVER () / CAST(COUNT(*) OVER () AS DOUBLE))
             / SQRT((SUM(x * x) OVER ()
                     - SUM(x) OVER () * SUM(x) OVER ()
                       / CAST(COUNT(*) OVER () AS DOUBLE))
                    / (CAST(COUNT(*) OVER () AS DOUBLE) - 1.0)) AS g
      FROM pts
    ),
    best AS (
      SELECT k, x, n, g, ROW_NUMBER() OVER (ORDER BY g DESC, k) AS r
      FROM dev
    )
    SELECT n, k AS flagged_key,
           ROUND(x, {round_to}) AS flagged_value,
           ROUND(g, {round_to}) AS g_stat
    FROM best WHERE r = 1
    """


# ──────────────────────────────────────────────────────────────────────────
# wave 129: Mantel-Haenszel pooled odds ratio + CMH test
# ──────────────────────────────────────────────────────────────────────────


def mantel_haenszel(
    df: DataFrame,
    stratum_col: str,
    exposure_col: str,
    outcome_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Cochran-Mantel-Haenszel analysis of a stratified 2x2 design:
    the pooled odds ratio ``OR_MH = Σ(a_i d_i / n_i) / Σ(b_i c_i / n_i)``
    and the CMH chi-square ``(Σa_i - ΣE[a_i])² / ΣVar(a_i)`` — THE
    confounder-adjusted association test (does exposure move outcome
    once the stratifier is held fixed?), and the classic Simpson's-
    paradox guard a crude pooled 2x2 walks straight into.

    Determinism: per-stratum cells a,b,c,d are exact integers from one
    groupBy; the across-strata reduction sums ~|strata| rationals in a
    FIXED ORDER (sort_array(collect_list(struct(stratum, ...)))) —
    the fixed-summation-order trick, so no unordered double sum exists
    anywhere (wave-118 discipline). Strata counts are GROUP-BY
    cardinality (tiny); everything after the first aggregate is
    driver-sized.

    Output (one row): (n_strata, n_total, or_mh, cmh_stat,
    or_crude) — crude OR included to expose the Simpson gap.
    """
    cells = df.select(
        F.col(stratum_col).alias("s"),
        F.col(exposure_col).cast("boolean").alias("e"),
        F.col(outcome_col).cast("boolean").alias("o"),
    ).groupBy("s").agg(
        F.sum((F.col("e") & F.col("o")).cast("bigint")).alias("a"),
        F.sum((F.col("e") & ~F.col("o")).cast("bigint")).alias("b"),
        F.sum((~F.col("e") & F.col("o")).cast("bigint")).alias("c"),
        F.sum((~F.col("e") & ~F.col("o")).cast("bigint")).alias("d"),
    )
    t = cells.withColumn(
        "n", (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    )
    terms = t.select(
        F.struct(
            F.col("s").cast("string").alias("s"),
            (F.col("a") * F.col("d") / F.col("n")).alias("ad_n"),
            (F.col("b") * F.col("c") / F.col("n")).alias("bc_n"),
            F.col("a").cast("double").alias("a"),
            (
                (F.col("a") + F.col("b"))
                * (F.col("a") + F.col("c"))
                / F.col("n")
            ).alias("ea"),
            (
                (F.col("a") + F.col("b")).cast("double")
                * (F.col("c") + F.col("d"))
                * (F.col("a") + F.col("c"))
                * (F.col("b") + F.col("d"))
                / (F.col("n") * F.col("n") * (F.col("n") - 1.0))
            ).alias("va"),
        ).alias("t"),
        F.col("a").alias("ra"),
        F.col("b").alias("rb"),
        F.col("c").alias("rc"),
        F.col("d").alias("rd"),
    )
    agg = terms.agg(
        F.sort_array(F.collect_list("t")).alias("ts"),
        F.sum("ra").cast("bigint").alias("sa"),
        F.sum("rb").cast("bigint").alias("sb"),
        F.sum("rc").cast("bigint").alias("sc"),
        F.sum("rd").cast("bigint").alias("sd"),
    )

    def _fold(field):
        return F.expr(
            f"aggregate(ts, cast(0.0 as double), (acc, x) -> acc + x.{field})"
        )

    or_mh = _fold("ad_n") / _fold("bc_n")
    diff = _fold("a") - _fold("ea")
    cmh = diff * diff / _fold("va")
    or_crude = (
        F.col("sa").cast("double") * F.col("sd").cast("double")
    ) / (F.col("sb").cast("double") * F.col("sc").cast("double"))
    return agg.select(
        F.size("ts").cast("bigint").alias("n_strata"),
        (F.col("sa") + F.col("sb") + F.col("sc") + F.col("sd"))
        .cast("bigint")
        .alias("n_total"),
        F.round(or_mh, round_to).alias("or_mh"),
        F.round(cmh, round_to).alias("cmh_stat"),
        F.round(or_crude, round_to).alias("or_crude"),
    )


def mantel_haenszel_sql(
    src_sql: str,
    stratum_col: str,
    exposure_col: str,
    outcome_col: str,
    round_to: int = 6,
) -> str:
    """DuckDB twin of :func:`mantel_haenszel` (same fixed reduction
    order via list(... ORDER BY stratum) + list fold)."""
    return f"""
    WITH src AS ({src_sql}),
    cells AS (
      SELECT {stratum_col} AS s,
             CAST(SUM(CASE WHEN ({exposure_col}) AND ({outcome_col})
                           THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN ({exposure_col}) AND NOT ({outcome_col})
                           THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN NOT ({exposure_col}) AND ({outcome_col})
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN NOT ({exposure_col}) AND NOT ({outcome_col})
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM src GROUP BY 1
    ),
    t AS (
      SELECT *, CAST(a + b + c + d AS DOUBLE) AS n FROM cells
    ),
    folded AS (
      SELECT
        CAST(COUNT(*) AS BIGINT) AS n_strata,
        CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
        CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(d) AS BIGINT) AS sd,
        list_reduce(list_prepend(0.0,
          list(a * d / n ORDER BY CAST(s AS VARCHAR))), (x, y) -> x + y)
          AS s_ad,
        list_reduce(list_prepend(0.0,
          list(b * c / n ORDER BY CAST(s AS VARCHAR))), (x, y) -> x + y)
          AS s_bc,
        list_reduce(list_prepend(0.0,
          list(CAST(a AS DOUBLE) ORDER BY CAST(s AS VARCHAR))),
          (x, y) -> x + y) AS s_a,
        list_reduce(list_prepend(0.0,
          list((a + b) * (a + c) / n ORDER BY CAST(s AS VARCHAR))),
          (x, y) -> x + y) AS s_ea,
        list_reduce(list_prepend(0.0,
          list(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)
               / (n * n * (n - 1.0)) ORDER BY CAST(s AS VARCHAR))),
          (x, y) -> x + y) AS s_va
      FROM t
    )
    SELECT n_strata,
           CAST(sa + sb + sc + sd AS BIGINT) AS n_total,
           ROUND(s_ad / s_bc, {round_to}) AS or_mh,
           ROUND((s_a - s_ea) * (s_a - s_ea) / s_va, {round_to}) AS cmh_stat,
           ROUND(CAST(sa AS DOUBLE) * sd / (CAST(sb AS DOUBLE) * sc),
                 {round_to}) AS or_crude
    FROM folded
    """
