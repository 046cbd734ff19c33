"""Queries surfacing the non-relational layers: geospatial (G1-G3),
the quasi-binomial GLM (M1/M2), and multimodal binary plumbing.

Inputs are synthesized deterministically FROM the catalog tables (the
testdata has no geometry/media columns), so every run and every engine
sees identical bytes.

Oracle discipline: the multimodal fake-decode derives every feature
from md5/arithmetic, so its specs are fully oracle-checked — the
DuckDB twin recomputes the features in SQL while Spark runs the real
Arrow-batched mapInPandas plumbing, proving the distributed path
produces exactly the declared function of the bytes. The geo spec runs
its fixed-iteration LCC inverse unrolled in SQL (see
_lcc_inverse_oracle_sql), so it too is fully hash-checked. The IRLS
GLM cannot be recomputed in SQL (data-dependent iterative
convergence), but its converged estimates are deterministic, so its
oracle pins the sf0.01 coefficient table as literals — every spec in
this module is hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..operators import kmeans as _kmeans
from ..operators import semdedup as _semdedup
from ..operators.fanout import fan_out
from ..registry import QuerySpec, spec_decorator

SPECS: list[QuerySpec] = []


_spec = spec_decorator(SPECS)


# --------------------------------------------------------------------------
# media synthesis shared by the multimodal specs (Spark + SQL twins)
# --------------------------------------------------------------------------

_MTYPE = "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
_SEED = "CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT)"


def _synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> MEDIA_SCHEMA bundle: payload = utf-8 bytes of the
    text (an opaque deterministic blob), media_type round-robins by id."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.expr(_MTYPE).alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.concat(F.lit("synthetic://"), F.col("doc_id").cast("string")).alias(
            "source_uri"
        ),
    )


@_spec(
    "multimodal_feature_extract",
    f"""
    WITH media AS (
      SELECT doc_id AS media_id, {_MTYPE} AS media_type, text,
             {_SEED} AS seed, octet_length(CAST(text AS BLOB)) AS n_bytes
      FROM documents
    )
    SELECT media_type, COUNT(*) AS n_media,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(CASE WHEN media_type = 'image' THEN 64 + seed % 1920
                         WHEN media_type = 'video' THEN 320 + seed % 1600 END)
                AS BIGINT) AS sum_width,
           CAST(SUM(CASE WHEN media_type IN ('audio', 'video')
                         THEN 1000 + seed % 600000 END)
                AS BIGINT) AS sum_duration_ms
    FROM media GROUP BY media_type
    """,
    "multimodal: decode/feature-extract via Arrow-batched mapInPandas "
    "over binary payloads (operators/multimodal.py). The fake codec is "
    "a pure function of the bytes (md5-derived), so the oracle "
    "recomputes it in SQL and the differential gate verifies the "
    "distributed plumbing end-to-end; a real codec slots into the same "
    "kernel signature",
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_features

    feats = extract_features(_synth_media(spark, sf_dir))
    return feats.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("width").alias("sum_width"),
        F.sum("duration_ms").alias("sum_duration_ms"),
    )


@_spec(
    "multimodal_frame_sample",
    f"""
    WITH media AS (
      SELECT doc_id AS media_id, {_MTYPE} AS media_type, {_SEED} AS seed
      FROM documents
    )
    SELECT media_id,
           CAST(LEAST(16, GREATEST(1, (1000 + seed % 600000) // 1000)) AS BIGINT)
             AS n_frames
    FROM media WHERE media_type = 'video'
    """,
    "multimodal: video frame-sampling plumbing (one row per sampled "
    "offset via mapInPandas; operators/multimodal.py sample_frames). "
    "Oracle recomputes the per-video frame count from the same "
    "byte-derived duration",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import sample_frames

    frames = sample_frames(_synth_media(spark, sf_dir), every_ms=1000, max_frames=16)
    return frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_frames"))


@_spec(
    "multimodal_strict_decode",
    """
    WITH params AS (
      SELECT doc_id,
             CASE doc_id % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav'
                             WHEN 2 THEN 'ppm' ELSE 'png' END AS kind,
             4 + doc_id % 29 AS w,
             3 + doc_id % 17 AS h,
             500 + (doc_id * 37) % 5000 AS dur
      FROM documents
    ),
    expected AS (
      SELECT kind,
             CASE WHEN kind IN ('bmp', 'ppm', 'png') THEN w END AS width,
             CASE WHEN kind IN ('bmp', 'ppm', 'png') THEN h END AS height,
             CASE WHEN kind = 'wav' THEN dur END AS duration_ms,
             CASE kind
               WHEN 'bmp' THEN 54 + ((w * 3 + 3) // 4 * 4) * h
               WHEN 'ppm' THEN 3 + length(CAST(w AS VARCHAR)) + 1
                               + length(CAST(h AS VARCHAR)) + 1 + 4
                               + w * h * 3
               -- PNG: 8 sig + 25 IHDR + 12 IEND + (12 + idat), idat =
               -- zlib level-0 stored blocks over h*(1+3w) filter+raster
               WHEN 'png' THEN 63 + h * (1 + 3 * w)
                               + 5 * ((h * (1 + 3 * w) + 65534) // 65535)
               ELSE 44 + (dur * 8000 // 1000) * 2
             END AS n_bytes
      FROM params
    )
    SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(width) AS BIGINT) AS sum_width,
           CAST(SUM(height) AS BIGINT) AS sum_height,
           CAST(SUM(duration_ms) AS BIGINT) AS sum_duration_ms
    FROM expected GROUP BY kind
    """,
    "multimodal: REAL codec decode (round 4, VERDICT r3 #3; PNG added "
    "round 5 per VERDICT r4 #5) — synthesizes genuine BMP (24bpp "
    "BI_RGB), binary P6 PPM, PCM WAV and 8-bit RGB PNG (zlib IDAT, "
    "all five scanline filters) file bytes per document (Arrow-batched "
    "encoder kernel), then parses them back with "
    "operators/multimodal.py strict_decoder (pure-stdlib header parse, "
    "CRC-checked chunk walk, inflate + unfilter; no codec libraries). "
    "The oracle recomputes width/height/duration AND the exact encoded "
    "byte size (headers + row padding + sample count + stored-block "
    "zlib framing) from the same doc_id-derived parameters, so a "
    "decoder that misreads any header field or miscounts padding "
    "hash-mismatches. JPEG stays env-gated (needs PIL/libav); "
    "fake_decode remains the stand-in for such formats",
)
def multimodal_strict_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "CASE doc_id % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' "
            "WHEN 2 THEN 'ppm' ELSE 'png' END"
        ).alias("kind"),
        (F.lit(4) + F.col("doc_id") % 29).cast("int").alias("w"),
        (F.lit(3) + F.col("doc_id") % 17).cast("int").alias("h"),
        (F.lit(500) + (F.col("doc_id") * 37) % 5000).cast("int").alias("dur"),
    )

    payload_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("media_type", T.StringType()),
            T.StructField("kind", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def encode(batches):
        for pdf in batches:
            payloads = []
            for kind, w, h, dur, did in zip(
                pdf["kind"], pdf["w"], pdf["h"], pdf["dur"], pdf["doc_id"]
            ):
                if kind == "bmp":
                    payloads.append(mm.encode_bmp(int(w), int(h), seed=int(did)))
                elif kind == "ppm":
                    payloads.append(mm.encode_ppm(int(w), int(h), seed=int(did)))
                elif kind == "png":
                    payloads.append(mm.encode_png(int(w), int(h), seed=int(did)))
                else:
                    payloads.append(mm.encode_wav(int(dur), seed=int(did)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].values,
                    "media_type": pdf["kind"].map(
                        {"bmp": "image", "ppm": "image", "png": "image", "wav": "audio"}
                    ).values,
                    "kind": pdf["kind"].values,
                    "payload": payloads,
                }
            )

    media = fan_out(docs).mapInPandas(encode, schema=payload_schema)
    feats = mm.extract_features(
        media.select("media_id", "media_type", "payload"),
        decoder=mm.strict_decoder,
    )
    # kind is a pure function of media_id — recompute instead of
    # joining back to `media`, which would run the encoder twice
    # (both join sides descend from the mapInPandas stage)
    feats = feats.withColumn(
        "kind",
        F.expr(
            "CASE media_id % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' "
            "WHEN 2 THEN 'ppm' ELSE 'png' END"
        ),
    )
    return (
        feats
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("width").alias("sum_width"),
            F.sum("height").alias("sum_height"),
            F.sum("duration_ms").alias("sum_duration_ms"),
        )
    )


def _lcc_inverse_oracle_sql() -> str:
    """Build the DuckDB twin of functions/geo.py's LCC inverse.

    The Python path runs a FIXED LCC_PHI_ITERS-step isometric-latitude
    iteration (no early break), so the same float sequence can be
    unrolled here as chained ``SELECT * REPLACE`` CTEs; the projection
    constants are embedded via repr() (shortest round-trip decimal ->
    identical doubles). Output is formatted at 1e-7 degrees on both
    sides, 9+ orders of magnitude above any cross-engine libm ULP.
    """
    from ..functions import geo as _geo

    e = repr(_geo._E)
    eh = repr(_geo._E / 2)
    af = repr(_geo._GRS80_A * _geo._F_CONST)
    n = repr(_geo._N)
    lon0 = repr(_geo._LON0)
    rho0 = repr(_geo._RHO0)
    rad2deg = repr(_geo._RAD2DEG)

    phi_iters = "".join(
        f"""
    it{k + 1} AS (
      SELECT * REPLACE (
        pi() / 2 - 2 * atan(t * pow((1 - {e} * sin(phi)) / (1 + {e} * sin(phi)),
                                    {eh})) AS phi)
      FROM it{k}
    ),"""
        for k in range(_geo.LCC_PHI_ITERS)
    )

    return f"""
    WITH pts(variant, i, dx, dy) AS (VALUES
      ('valid', 0, 0, 0), ('valid', 1, 1000, 0), ('valid', 2, 1000, 1000),
      ('valid', 3, 0, 1000), ('valid', 4, 0, 0),
      ('degen', 0, 0, 0), ('degen', 1, 0, 0), ('degen', 2, 0, 0),
      ('degen', 3, 0, 0),
      ('bowtie', 0, 0, 0), ('bowtie', 1, 1000, 1000), ('bowtie', 2, 1000, 0),
      ('bowtie', 3, 0, 1000), ('bowtie', 4, 0, 0)
    ),
    base AS (
      SELECT n_nationkey, n_name,
             CASE WHEN n_nationkey % 7 = 0 THEN 'degen'
                  WHEN n_nationkey % 11 = 0 THEN 'bowtie'
                  ELSE 'valid' END AS variant,
             n_nationkey * 5000 + 200000 AS x0,
             n_nationkey * 4000 + 750000 AS y0
      FROM nation
    ),
    coords AS (
      SELECT b.n_nationkey, b.n_name, b.variant, p.i,
             CAST(b.x0 + p.dx AS DOUBLE) AS x,
             CAST(b.y0 + p.dy AS DOUBLE) AS y
      FROM base b JOIN pts p USING (variant)
    ),
    it0 AS (
      SELECT *,
             pi() / 2 - 2 * atan(t) AS phi
      FROM (
        SELECT *,
               pow(sqrt(xp * xp + yp * yp) / {af}, 1 / {n}) AS t,
               atan2(xp, yp) / {n} + {lon0} AS lon_rad
        FROM (
          SELECT *, x - 200000.0 AS xp, {rho0} - (y - 750000.0) AS yp
          FROM coords
        )
      )
    ),{phi_iters}
    projected AS (
      SELECT n_nationkey, n_name, variant, i,
             printf('%.7f %.7f', lon_rad * {rad2deg}, phi * {rad2deg}) AS pt
      FROM it{_geo.LCC_PHI_ITERS}
    )
    SELECT n_nationkey, n_name,
           variant = 'valid' AS is_valid,
           'POLYGON ((' || string_agg(pt, ', ' ORDER BY i) || '))' AS geometry_4326
    FROM projected
    GROUP BY n_nationkey, n_name, variant
    """


@_spec(
    "geo_reproject_validity",
    _lcc_inverse_oracle_sql(),
    "geo G1-G3 (SURVEY §2.7): synthesize one EPSG:26986 square per "
    "nation (plus planted zero-area and self-intersecting bowtie "
    "rings), reproject to EPSG:4326 with the Snyder LCC inverse "
    "(pandas UDF), GEOS-equivalent validity flag, normalized WKT out. "
    "Mirrors dags/district_gis_etl.py:62-74; the oracle re-runs the "
    "identical fixed-iteration LCC math unrolled in SQL",
)
def geo_reproject_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.geo import st_is_valid, st_normalize_wkt, st_transform_26986_to_4326

    nation = load_table(spark, sf_dir, "nation")
    # 1 km squares marching across the Massachusetts mainland plane;
    # every 7th nation gets a zero-area ring, every 11th a bowtie
    # (self-intersecting) ring — both must flag invalid.
    x0 = F.col("n_nationkey") * 5000 + 200000
    y0 = F.col("n_nationkey") * 4000 + 750000
    valid_wkt = F.format_string(
        "POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
        x0, y0, x0 + 1000, y0, x0 + 1000, y0 + 1000, x0, y0 + 1000, x0, y0,
    )
    degenerate_wkt = F.format_string(
        "POLYGON ((%d %d, %d %d, %d %d, %d %d))", x0, y0, x0, y0, x0, y0, x0, y0
    )
    bowtie_wkt = F.format_string(
        "POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
        x0, y0, x0 + 1000, y0 + 1000, x0 + 1000, y0, x0, y0 + 1000, x0, y0,
    )
    shapes = nation.select(
        "n_nationkey",
        "n_name",
        F.when(F.col("n_nationkey") % 7 == 0, degenerate_wkt)
        .when(F.col("n_nationkey") % 11 == 0, bowtie_wkt)
        .otherwise(valid_wkt)
        .alias("geometry_26986"),
    )
    return shapes.select(
        "n_nationkey",
        "n_name",
        st_is_valid("geometry_26986").alias("is_valid"),
        st_normalize_wkt(st_transform_26986_to_4326("geometry_26986")).alias(
            "geometry_4326"
        ),
    )


# IRLS is iterative (data-dependent convergence), so no SQL twin can
# recompute it — but the converged point estimates ARE deterministic
# (fixed input, fixed iteration schedule, order-insensitive
# tree-aggregates well inside the 6-decimal rounding below), so the
# oracle pins the sf0.01 coefficient table as literals. Values verified
# stable across repeated runs and shuffle-partition settings; the
# pytest IRLS pin (tests/test_ml_multimodal.py) guards the estimates at
# sf0.001 independently.
_GLM_ORACLE_SQL = """
SELECT term,
       CAST(estimate AS DOUBLE) AS estimate,
       CAST(std_error AS DOUBLE) AS std_error,
       CAST(statistic AS DOUBLE) AS statistic,
       CAST(odds_ratio AS DOUBLE) AS odds_ratio,
       CAST(conf_low AS DOUBLE) AS conf_low,
       CAST(conf_high AS DOUBLE) AS conf_high
FROM (VALUES
    ('acctbal_k',    0.010405, 0.006371,   1.633188, 1.010460, 0.997920, 1.023157),
    ('n_orders',    -0.001415, 0.006396,  -0.221286, 0.998586, 0.986146, 1.011183),
    ('(Intercept)', -1.426782, 0.079536, -17.938914, 0.240080, 0.205426, 0.280580)
) AS t(term, estimate, std_error, statistic, odds_ratio, conf_low, conf_high)
"""


@_spec(
    "glm_tidy_coefficients",
    _GLM_ORACLE_SQL,
    "M1/M2 (SURVEY §2.12): weighted quasi-binomial GLM via pyspark.ml "
    "GLR (binomial/logit + dispersion-rescaled SEs) on per-customer "
    "order behavior; returns the broom::tidy-style coefficient table "
    "(run_analysis.Rmd:80-143)",
)
def glm_tidy_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.glm import fit_quasibinomial_glm, tidy

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.avg((F.col("o_orderpriority") == "1-URGENT").cast("double")).alias(
                "urgent_frac"
            ),
        )
        .join(customer.select("c_custkey", "c_acctbal"),
              F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "urgent_frac",
            F.col("n_orders").cast("double").alias("n_orders"),
            (F.col("c_acctbal") / 1000.0).alias("acctbal_k"),
        )
    )
    features = ["acctbal_k", "n_orders"]
    model = fit_quasibinomial_glm(
        per_cust, response_col="urgent_frac", feature_cols=features,
        weight_col="n_orders",
    )
    rows = tidy(model, features)
    # 6-decimal rounding: ~6 orders of magnitude above IRLS float jitter
    # (partition-order summation, ~1e-12 relative), so the literal
    # oracle's hash is reproducible run to run
    return spark.createDataFrame(
        [
            (c.term, round(float(c.estimate), 6), round(float(c.std_error), 6),
             round(float(c.statistic), 6), round(float(c.odds_ratio), 6),
             round(float(c.conf_low), 6), round(float(c.conf_high), 6))
            for c in rows
        ],
        "term string, estimate double, std_error double, statistic double, "
        "odds_ratio double, conf_low double, conf_high double",
    )


def _glm_wide_features(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list[str]]:
    """Reference-breadth feature frame: 8 covariates over the star
    schema (run_analysis.Rmd:80-99 fits 8 school-level covariates; the
    TPC-H twin uses per-customer behavior + market-segment one-hots)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders_l"),
            F.avg((F.col("o_orderpriority") == "1-URGENT").cast("double")).alias(
                "urgent_frac"
            ),
            F.avg((F.col("o_orderpriority") == "2-HIGH").cast("double")).alias(
                "high_frac"
            ),
            F.avg((F.col("o_orderstatus") == "O").cast("double")).alias(
                "open_frac"
            ),
            (F.avg("o_totalprice") / 100000.0).alias("avg_value_100k"),
        )
        .join(
            customer.select("c_custkey", "c_acctbal", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "urgent_frac",
            F.col("n_orders_l").cast("double").alias("n_orders"),
            (F.col("c_acctbal") / 1000.0).alias("acctbal_k"),
            "high_frac",
            "open_frac",
            "avg_value_100k",
            (F.col("c_mktsegment") == "AUTOMOBILE").cast("double").alias("seg_auto"),
            (F.col("c_mktsegment") == "BUILDING").cast("double").alias("seg_building"),
            (F.col("c_mktsegment") == "FURNITURE").cast("double").alias("seg_furniture"),
        )
    )
    features = [
        "acctbal_k",
        "n_orders",
        "high_frac",
        "open_frac",
        "avg_value_100k",
        "seg_auto",
        "seg_building",
        "seg_furniture",
    ]
    return per_cust, features


# Pinned at sf0.01 like _GLM_ORACLE_SQL (IRLS has no SQL twin); values
# verified identical across shuffle-partition settings (32 vs 7) at
# 6-decimal rounding.
_GLM_WIDE_ORACLE_SQL = """
SELECT term,
       CAST(estimate AS DOUBLE) AS estimate,
       CAST(std_error AS DOUBLE) AS std_error,
       CAST(statistic AS DOUBLE) AS statistic,
       CAST(odds_ratio AS DOUBLE) AS odds_ratio,
       CAST(conf_low AS DOUBLE) AS conf_low,
       CAST(conf_high AS DOUBLE) AS conf_high
FROM (VALUES
    ('acctbal_k',       0.009451, 0.006406,  1.475385, 1.009496, 0.996901, 1.022251),
    ('n_orders',       -0.001210, 0.006428, -0.188179, 0.998791, 0.986286, 1.011455),
    ('high_frac',      -1.727962, 0.174837, -9.883288, 0.177646, 0.126106, 0.250252),
    ('open_frac',       0.049939, 0.137847,  0.362275, 1.051207, 0.802329, 1.377285),
    ('avg_value_100k',  0.020573, 0.046167,  0.445611, 1.020786, 0.932474, 1.117461),
    ('seg_auto',        0.011147, 0.055953,  0.199225, 1.011210, 0.906178, 1.128415),
    ('seg_building',   -0.082543, 0.056966, -1.448993, 0.920772, 0.823498, 1.029536),
    ('seg_furniture',  -0.109135, 0.056969, -1.915687, 0.896610, 0.801883, 1.002526),
    ('(Intercept)',    -1.125252, 0.154759, -7.270983, 0.324571, 0.239650, 0.439583)
) AS t(term, estimate, std_error, statistic, odds_ratio, conf_low, conf_high)
"""


@_spec(
    "glm_tidy_coefficients_wide",
    _GLM_WIDE_ORACLE_SQL,
    "M1/M2 at reference breadth (VERDICT r3 #4): weighted "
    "quasi-binomial GLM with 8 covariates (behavioral aggregates + "
    "market-segment one-hots) matching run_analysis.Rmd:80-99's "
    "8-covariate school model; dispersion-rescaled SEs, tidy table "
    "with odds-ratio CIs",
)
def glm_tidy_coefficients_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.glm import fit_quasibinomial_glm, tidy

    per_cust, features = _glm_wide_features(spark, sf_dir)
    model = fit_quasibinomial_glm(
        per_cust, response_col="urgent_frac", feature_cols=features,
        weight_col="n_orders",
    )
    rows = tidy(model, features)
    return spark.createDataFrame(
        [
            (c.term, round(float(c.estimate), 6), round(float(c.std_error), 6),
             round(float(c.statistic), 6), round(float(c.odds_ratio), 6),
             round(float(c.conf_low), 6), round(float(c.conf_high), 6))
            for c in rows
        ],
        "term string, estimate double, std_error double, statistic double, "
        "odds_ratio double, conf_low double, conf_high double",
    )


@_spec(
    "kmeans_cluster_stats",
    _kmeans.kmeans_cluster_stats_sql(k=8, iters=2),
    "ML extension: deterministic k-means codebook training (Lloyd, 2 "
    "fixed iterations, Q20 integer arithmetic — operators/kmeans.py). "
    "Trains the centroids the IVF ANN serving path consumes; exact "
    "integer sums make the result partition-order-independent and "
    "fully oracle-checkable, unlike float-mean k-means",
)
def kmeans_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _kmeans.kmeans_cluster_stats(emb, k=8, iters=2)


@_spec(
    "semdedup_prune",
    _semdedup.semdedup_keep_sql(k=16, iters=2, threshold=0.35),
    "training-data op: SemDeDup semantic dedup (arXiv:2303.09540) — "
    "k-means-bucketed within-cluster cosine pruning, keep-lowest-id. "
    "Deterministic Q20 k-means + exact-integer cosine make every "
    "keep/drop verdict bit-reproducible, so the oracle checks the full "
    "per-vector decision, not a contract. tau=0.35 because the "
    "synthetic embeddings are near-orthogonal (paper range 0.9-0.95 "
    "for trained encoders); the pruning path is what's under test. "
    "k=16 per the paper's k ∝ n sizing — pair work is Σ|cluster|², so "
    "doubling k roughly quarters the hot-path cost at fixed n",
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _semdedup.semdedup_keep(emb, k=16, iters=2, threshold=0.35)


@_spec(
    "multimodal_gif_decode",
    """
    WITH params AS (
      SELECT doc_id,
             8 + doc_id % 25 AS w,
             6 + doc_id % 13 AS h,
             3 + doc_id % 11 AS delay_cs
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_gifs,
           CAST(SUM(w) AS BIGINT) AS sum_width,
           CAST(SUM(h) AS BIGINT) AS sum_height,
           CAST(SUM(delay_cs * 10) AS BIGINT) AS sum_duration_ms,
           TRUE AS all_rasters_match
    FROM params
    """,
    "multimodal: GIF decode (round 6, VERDICT r5 #5) — synthesizes a "
    "genuine GIF89a per document (256-entry GCT, Graphic Control "
    "delay, frame compressed by a REAL variable-width LZW encoder) in "
    "an Arrow-batched kernel, then decodes it back with "
    "operators/multimodal.py strict_decoder: container walk, "
    "extension sub-block chains, full LZW decompress with dictionary "
    "growth and the KwKwK case. The oracle recomputes width/height/"
    "duration from the same doc_id-derived parameters; the LZW stream "
    "itself is checked by the all_rasters_match invariant — the "
    "decoded palette-index raster must equal the deterministic pixel "
    "generator, recomputed independently in the kernel (the "
    "TRUE-contract pattern, cf. minhash_neardup). Compressed size is "
    "data-dependent (real LZW), so n_bytes stays out of the output",
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(8) + F.col("doc_id") % 25).cast("int").alias("w"),
        (F.lit(6) + F.col("doc_id") % 13).cast("int").alias("h"),
        (F.lit(3) + F.col("doc_id") % 11).cast("int").alias("delay_cs"),
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("duration_ms", T.LongType()),
            T.StructField("raster_ok", T.BooleanType()),
        ]
    )

    def encode_decode(batches):
        for pdf in batches:
            rows = []
            for did, w, h, dcs in zip(
                pdf["doc_id"], pdf["w"], pdf["h"], pdf["delay_cs"]
            ):
                g = mm.encode_gif(
                    int(w), int(h), delay_cs=int(dcs), seed=int(did)
                )
                meta = mm.strict_decoder(g, "image")
                raster = mm._decode_gif(g, return_raster=True)
                rows.append(
                    (
                        int(did),
                        meta["width"],
                        meta["height"],
                        meta["duration_ms"],
                        raster
                        == mm.gif_pixels(int(w), int(h), seed=int(did)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "duration_ms", "raster_ok",
                ],
            )

    feats = fan_out(docs).mapInPandas(encode_decode, schema=out_schema)
    return feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gifs"),
        F.sum("width").cast("bigint").alias("sum_width"),
        F.sum("height").cast("bigint").alias("sum_height"),
        F.sum("duration_ms").cast("bigint").alias("sum_duration_ms"),
        F.bool_and("raster_ok").alias("all_rasters_match"),
    )


@_spec(
    "multimodal_tiff_decode",
    """
    WITH params AS (
      SELECT doc_id,
             5 + doc_id % 21 AS w,
             4 + doc_id % 9 AS h,
             1 + doc_id % 4 AS rps,
             doc_id % 2 = 1 AS big_endian
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tiffs,
           CAST(SUM(w) AS BIGINT) AS sum_width,
           CAST(SUM(h) AS BIGINT) AS sum_height,
           CAST(SUM(CASE WHEN big_endian THEN 1 ELSE 0 END) AS BIGINT)
             AS n_big_endian,
           CAST(SUM(w * h * 3) AS BIGINT) AS sum_raster_bytes,
           TRUE AS all_rasters_match
    FROM params
    """,
    "multimodal: baseline TIFF decode (round 6 codec-matrix "
    "extension) — synthesizes a genuine uncompressed TIFF per "
    "document, alternating byte order per doc_id and splitting the "
    "raster into real multi-row strips, then decodes it back with "
    "operators/multimodal.py strict_decoder: header sniff, IFD tag "
    "walk (inline vs offset values), strip reassembly, loud raise on "
    "any Compression != 1. The oracle recomputes width/height/"
    "endianness counts from the same doc_id-derived parameters; the "
    "IFD/strip plumbing is checked by all_rasters_match — the "
    "reassembled raster must equal the deterministic pixel "
    "generator, recomputed independently in the kernel (the "
    "TRUE-contract pattern, cf. multimodal_gif_decode).",
)
def multimodal_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(5) + F.col("doc_id") % 21).cast("int").alias("w"),
        (F.lit(4) + F.col("doc_id") % 9).cast("int").alias("h"),
        (F.lit(1) + F.col("doc_id") % 4).cast("int").alias("rps"),
        (F.col("doc_id") % 2 == 1).alias("big_endian"),
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("big_endian", T.BooleanType()),
            T.StructField("n_raster_bytes", T.LongType()),
            T.StructField("raster_ok", T.BooleanType()),
        ]
    )

    def encode_decode(batches):
        for pdf in batches:
            rows = []
            for did, w, h, rps, be in zip(
                pdf["doc_id"], pdf["w"], pdf["h"], pdf["rps"],
                pdf["big_endian"],
            ):
                t = mm.encode_tiff(
                    int(w), int(h), seed=int(did),
                    big_endian=bool(be), rows_per_strip=int(rps),
                )
                meta = mm.strict_decoder(t, "image")
                raster = mm._decode_tiff(t, return_raster=True)
                rows.append(
                    (
                        int(did),
                        meta["width"],
                        meta["height"],
                        bool(be),
                        len(raster),
                        raster
                        == mm.tiff_pixels(int(w), int(h), seed=int(did)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "big_endian",
                    "n_raster_bytes", "raster_ok",
                ],
            )

    feats = fan_out(docs).mapInPandas(encode_decode, schema=out_schema)
    return feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tiffs"),
        F.sum("width").cast("bigint").alias("sum_width"),
        F.sum("height").cast("bigint").alias("sum_height"),
        F.sum(F.when(F.col("big_endian"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_big_endian"),
        F.sum("n_raster_bytes").cast("bigint").alias("sum_raster_bytes"),
        F.bool_and("raster_ok").alias("all_rasters_match"),
    )


@_spec(
    "multimodal_jpeg_decode",
    """
    WITH params AS (
      SELECT doc_id,
             8 + doc_id % 25 AS w,
             6 + doc_id % 13 AS h,
             75 + (doc_id % 6) * 5 AS quality,
             CAST(doc_id % 4 AS INT) AS ri
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_jpegs,
           CAST(SUM(w) AS BIGINT) AS sum_width,
           CAST(SUM(h) AS BIGINT) AS sum_height,
           CAST(SUM(CASE WHEN ri > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_restarts,
           TRUE AS all_coeffs_roundtrip,
           TRUE AS all_pixels_close
    FROM params
    """,
    "multimodal: baseline sequential JPEG decode (round 7, VERDICT r6 "
    "#7) — synthesizes a genuine JFIF JPEG per document (YCbCr 4:4:4, "
    "quality-scaled Annex-K quant tables, canonical huffman coding, "
    "byte stuffing, RSTn restart markers on 3 of 4 docs) in an "
    "Arrow-batched kernel, then decodes it back with "
    "operators/multimodal.py strict_decoder + _decode_jpeg: marker "
    "walk, DQT/DHT/SOF0/SOS/DRI parse, huffman entropy decode with "
    "unstuffing and restart resync, dequant, de-zigzag, IDCT, YCbCr->"
    "RGB. The oracle recomputes counts/dims from the same "
    "doc_id-derived parameters; the codec itself is checked by two "
    "TRUE-contract invariants (cf. multimodal_gif_decode): "
    "all_coeffs_roundtrip — the decoder must recover the encoder's "
    "quantized coefficients EXACTLY (entropy coding is lossless) — "
    "and all_pixels_close — max |decoded-source| <= 16 on the smooth "
    "fixture (quantization error bound at quality >= 75). Compressed "
    "size is data-dependent, so n_bytes stays out of the output.",
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(8) + F.col("doc_id") % 25).cast("int").alias("w"),
        (F.lit(6) + F.col("doc_id") % 13).cast("int").alias("h"),
        (F.lit(75) + (F.col("doc_id") % 6) * 5).cast("int").alias("quality"),
        (F.col("doc_id") % 4).cast("int").alias("ri"),
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("has_restarts", T.BooleanType()),
            T.StructField("coeffs_ok", T.BooleanType()),
            T.StructField("pixels_ok", T.BooleanType()),
        ]
    )

    def encode_decode(batches):
        for pdf in batches:
            rows = []
            for did, w, h, q, ri in zip(
                pdf["doc_id"], pdf["w"], pdf["h"], pdf["quality"], pdf["ri"]
            ):
                payload, enc = mm.encode_jpeg(
                    int(w), int(h), seed=int(did), quality=int(q),
                    return_coeffs=True, restart_interval=int(ri),
                )
                meta = mm.strict_decoder(payload, "image")
                _, dec, raster = mm._decode_jpeg(
                    payload, return_coeffs=True, return_raster=True
                )
                src = np.frombuffer(
                    mm.jpeg_pixels(int(w), int(h), seed=int(did)),
                    dtype=np.uint8,
                ).astype(np.int64)
                got = np.frombuffer(raster, dtype=np.uint8).astype(np.int64)
                rows.append(
                    (
                        int(did),
                        meta["width"],
                        meta["height"],
                        int(ri) > 0,
                        dec == enc,
                        int(np.abs(src - got).max(initial=0)) <= 16,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "has_restarts",
                    "coeffs_ok", "pixels_ok",
                ],
            )

    feats = fan_out(docs).mapInPandas(encode_decode, schema=out_schema)
    return feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_jpegs"),
        F.sum("width").cast("bigint").alias("sum_width"),
        F.sum("height").cast("bigint").alias("sum_height"),
        F.sum(F.when(F.col("has_restarts"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_restarts"),
        F.bool_and("coeffs_ok").alias("all_coeffs_roundtrip"),
        F.bool_and("pixels_ok").alias("all_pixels_close"),
    )


@_spec(
    "audio_codec_roundtrip",
    """
    WITH params AS (
      SELECT doc_id, 256 + doc_id % 241 AS n FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS sum_samples,
           CAST(SUM((n + 1) // 2) AS BIGINT) AS sum_adpcm_bytes,
           TRUE AS all_adpcm_exact,
           TRUE AS all_g711_bounded
    FROM params
    """,
    "multimodal: compressed audio codecs (wave 120, the audio sibling "
    "of multimodal_jpeg_decode) — per document, synthesizes a "
    "deterministic int16 PCM signal, compresses it with G.711 mu-law, "
    "G.711 A-law, and IMA ADPCM (operators/multimodal.py, pure-integer "
    "state machines from the public specs), and decodes each back. The "
    "oracle recomputes counts and the exact ADPCM byte length "
    "(ceil(n/2), two 4-bit codes per byte) from the same doc_id "
    "params; the codecs themselves are checked by TRUE-contract "
    "invariants: all_adpcm_exact — the decoder must reproduce the "
    "encoder's integer prediction path EXACTLY — and all_g711_bounded "
    "— companding error <= 512 (half the top-segment step) on every "
    "sample of both laws. Kernel is mapInPandas over the documents "
    "partitioning; payload bytes never shuffle.",
)
def audio_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(256) + F.col("doc_id") % 241).cast("int").alias("n"),
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_samples", T.IntegerType()),
            T.StructField("adpcm_bytes", T.LongType()),
            T.StructField("adpcm_exact", T.BooleanType()),
            T.StructField("g711_bounded", T.BooleanType()),
        ]
    )

    def roundtrip(batches):
        for pdf in batches:
            rows = []
            for did, n in zip(pdf["doc_id"], pdf["n"]):
                pcm = mm.pcm_fixture(int(n), seed=int(did))
                data, recon = mm.adpcm_encode(pcm)
                dec = mm.adpcm_decode(data, len(pcm))
                # vectorized LUT check (built once per process from the
                # scalar reference codecs the wave-120 tests pin)
                g711_ok = mm.g711_bounded_check(pcm)
                rows.append(
                    (int(did), int(n), len(data), dec == recon, g711_ok)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_samples", "adpcm_bytes",
                    "adpcm_exact", "g711_bounded",
                ],
            )

    feats = fan_out(docs).mapInPandas(roundtrip, schema=out_schema)
    return feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_samples").cast("bigint").alias("sum_samples"),
        F.sum("adpcm_bytes").cast("bigint").alias("sum_adpcm_bytes"),
        F.bool_and("adpcm_exact").alias("all_adpcm_exact"),
        F.bool_and("g711_bounded").alias("all_g711_bounded"),
    )
