"""Operational/BI/geo specs (audits, attribution, spatial, dimensions).

Consolidated from the round-1..3 wave modules (round 4, VERDICT r3
#7): spec names, oracles and bodies are unchanged (module-private
helpers colliding across waves carry a _w<N> suffix). Constituent
waves and their original one-line scopes:

#   wave8: Wave-8 extension specs: operational diagnostics — join-key skew
#   wave12: Wave-12 extension spec: nested-type processing — array-of-structs
#   wave13: Wave-13 extension spec: grid-indexed point-in-polygon spatial join
#   wave37: Wave-37 extension specs: the generalized CRS surface (G1 beyond the
#   wave43: Wave-43 extension specs: ABC revenue classes, contingency
#   wave44: Wave-44 extension specs: last-touch attribution, order/line
#   wave45: Wave-45 extension specs: k-anonymity audit, activity streaks,
#   wave48: Wave-48 extension specs: Hamilton apportionment, XmR control
#   wave54: Wave-54 extension specs: haversine nearest-neighbor join, frequent
#   wave60: Wave-60 extension specs: price elasticity by brand, funnel window
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..catalog import load_table
from pyspark.sql import DataFrame, SparkSession
from ..operators.spatial import pip_expr_sql, point_in_polygon_join
import pandas as pd
from pyspark.sql import types as T
from ..functions import geo
from ..operators import aggregates, concentration, dedup, entropy, evaluation
from ..operators import attribution, reconcile, text
from ..operators import privacy, profiling, text, timeseries
from ..operators import apportion, timeseries
from ..operators import assoc, profiling, segmentation, spatial, text
from ..operators import concentration, regression

from ..registry import QuerySpec, spec_decorator

SPECS: list[QuerySpec] = []


_spec = spec_decorator(SPECS)


# ──────────────────────────────────────────────────────────────────────────
# wave8
# ──────────────────────────────────────────────────────────────────────────
_SKEW_KEYS = ("l_orderkey", "l_partkey", "l_suppkey")


def _skew_branch_sql(key: str) -> str:
    return f"""
    SELECT '{key}' AS key_name,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(cnt) AS BIGINT) AS max_freq,
           MAX(cnt) / CAST(SUM(cnt) AS DOUBLE) AS top_share
    FROM (SELECT {key}, COUNT(*) AS cnt FROM lineitem GROUP BY 1)
    """


@_spec(
    "join_key_skew_report",
    "SELECT * FROM (\n"
    + "\nUNION ALL ".join(_skew_branch_sql(k) for k in _SKEW_KEYS)
    + ")",
    "extension — join-key skew diagnostics: for each candidate join "
    "key of the fact table, row count, distinct keys, hottest-key "
    "frequency and its share of all rows — the numbers that decide "
    "broadcast vs shuffle vs salting BEFORE a 100 TB join is launched "
    "(operators/skew.py is the mitigation; this is the detector). One "
    "column-pruned scan + one map-side-combined group-by per key; "
    "top_share is an exact int/int division, so no float cliffs",
)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    branches = []
    for key in _SKEW_KEYS:
        per_key = (
            li.select(key)
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        branches.append(
            per_key.agg(
                F.lit(key).alias("key_name"),
                F.sum("cnt").cast("long").alias("n_rows"),
                F.count(F.lit(1)).alias("n_distinct"),
                F.max("cnt").cast("long").alias("max_freq"),
                (F.max("cnt") / F.sum("cnt").cast("double")).alias("top_share"),
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


@_spec(
    "event_debounce_dedup",
    """
    WITH g AS (
      SELECT user_id, event_type, ts, event_id, value,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN prev_ts IS NOT NULL
                          AND date_diff('second', prev_ts, ts) < 60
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_debounced
    FROM g GROUP BY 1, 2
    """,
    "extension — telemetry debounce: suppress same-(user, type) events "
    "arriving within 60s of the previous one (double-click/retry "
    "noise), the row-level sibling of dedup_exact for event streams. "
    "One lag window co-keyed with the final rollup — a single shuffle "
    "on (user, type); the streaming twin is "
    "dropDuplicatesWithinWatermark (streaming/windows.py)",
)
def event_debounce_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = ev.withColumn("prev_ts", F.lag("ts").over(w))
    debounced = (
        F.col("prev_ts").isNotNull()
        & (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") < 60)
    )
    return g.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(debounced.cast("int")).cast("long").alias("n_debounced"),
    )


# ──────────────────────────────────────────────────────────────────────────
# wave12
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "order_items_nested_ops",
    """
    WITH nested AS (
      SELECT l_orderkey,
             list({'price': l_extendedprice, 'ln': l_linenumber,
                   'partkey': l_partkey, 'qty': l_quantity}
                  ORDER BY l_extendedprice, l_linenumber) AS items
      FROM lineitem GROUP BY 1
    ),
    per_order AS (
      SELECT n.l_orderkey, o.o_orderpriority,
             len(n.items) AS n_items,
             n.items[-1].partkey AS top_partkey,
             n.items[-1].qty AS top_qty,
             list_sum(list_transform(n.items,
                                     x -> CAST(x.qty AS BIGINT)))
               AS total_qty
      FROM nested n JOIN orders o ON n.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(n_items) AS BIGINT) AS total_items,
           CAST(SUM(total_qty) AS BIGINT) AS total_qty,
           CAST(SUM(CASE WHEN top_qty > 25 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_top_item_bulk,
           CAST(SUM(top_partkey) AS BIGINT) AS sum_top_partkey
    FROM per_order GROUP BY 1 ORDER BY 1
    """,
    "extension — nested-type toolkit: per-order line items collected "
    "into a SORTED array of structs (the lakehouse order document "
    "shape), then processed entirely with higher-order array "
    "functions — element_at(-1) for the priciest item, transform + "
    "aggregate for an integer fold — inside the same stage as the "
    "collect, no second shuffle and no explode-rejoin round trip. "
    "sort_array over (price, linenumber) structs makes the "
    "nondeterministic collect_list canonical; every folded measure is "
    "integer-exact",
)
def order_items_nested_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    nested = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("l_extendedprice").alias("price"),
                    F.col("l_linenumber").alias("ln"),
                    F.col("l_partkey").alias("partkey"),
                    F.col("l_quantity").alias("qty"),
                )
            )
        ).alias("items")
    )
    top = F.element_at("items", -1)
    per_order = nested.join(
        orders, nested.l_orderkey == orders.o_orderkey
    ).select(
        "o_orderpriority",
        F.size("items").alias("n_items"),
        top.getField("partkey").alias("top_partkey"),
        top.getField("qty").alias("top_qty"),
        F.expr(
            "aggregate(transform(items, x -> cast(x.qty as bigint)), "
            "0L, (a, x) -> a + x)"
        ).alias("total_qty"),
    )
    return (
        per_order.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("n_items").cast("long").alias("total_items"),
            F.sum("total_qty").cast("long").alias("total_qty"),
            F.sum((F.col("top_qty") > 25).cast("int"))
            .cast("long")
            .alias("n_top_item_bulk"),
            F.sum("top_partkey").cast("long").alias("sum_top_partkey"),
        )
        .orderBy("o_orderpriority")
    )


# ──────────────────────────────────────────────────────────────────────────
# wave13
# ──────────────────────────────────────────────────────────────────────────
#: closed rings (first vertex repeated last), no horizontal edges; one
#: convex triangle, one concave pentagon, one convex pentagon
_POLYGONS: list[tuple[str, list[float], list[float]]] = [
    ("tri", [10.0, 40.0, 25.0, 10.0], [10.0, 12.0, 40.0, 10.0]),
    (
        "concave",
        [50.0, 90.0, 70.0, 86.0, 48.0, 50.0],
        [20.0, 24.0, 40.0, 60.0, 58.0, 20.0],
    ),
    (
        "pent",
        [20.0, 45.0, 52.0, 30.0, 12.0, 20.0],
        [60.0, 62.0, 80.0, 95.0, 78.0, 60.0],
    ),
]

_CELL = 10.0

#: deterministic point cloud derived from order keys (integer mod then
#: /10 — both engines compute identical doubles)
_PX = "(o_orderkey * 7 % 1000) / 10.0"
_PY = "(o_orderkey * 13 % 1000) / 10.0"


def _poly_values_sql() -> str:
    rows = ", ".join(
        f"('{pid}', CAST({xs} AS DOUBLE[]), CAST({ys} AS DOUBLE[]))"
        for pid, xs, ys in _POLYGONS
    )
    return f"(VALUES {rows}) AS polys(poly_id, xs, ys)"


@_spec(
    "spatial_point_in_polygon",
    f"""
    WITH pts AS (
      SELECT o_orderkey, {_PX} AS px, {_PY} AS py FROM orders
    ),
    paired AS (
      SELECT t.o_orderkey, t.px, t.py, polys.poly_id, polys.xs, polys.ys
      FROM pts t CROSS JOIN {_poly_values_sql()}
    ),
    hits AS (
      SELECT poly_id, o_orderkey FROM paired
      WHERE {pip_expr_sql("xs", "ys", "px", "py")}
    )
    SELECT poly_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_point_ids
    FROM hits GROUP BY 1 ORDER BY 1
    """,
    "extension — spatial JOIN (operators/spatial.py): which polygon "
    "contains each point, at scale. Polygon bboxes explode onto a "
    "10-unit grid and BROADCAST; points compute their cell in the "
    "scan stage and broadcast-join on it (points never shuffle); the "
    "exact even-odd ray cast is a higher-order array expression under "
    "whole-stage codegen — no UDF, no geo library. The oracle skips "
    "the grid (plain theta join + the same ray cast): equality proves "
    "the grid pruning lost no containment. Complements "
    "functions/geo.py's validity/reprojection (S4/G1-G3) with the "
    "join form the reference's GIS stage implies",
)
def spatial_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    points = orders.select(
        "o_orderkey",
        F.expr(_PX).alias("px"),
        F.expr(_PY).alias("py"),
    )
    polygons = spark.createDataFrame(
        _POLYGONS, "poly_id string, xs array<double>, ys array<double>"
    )
    hits = point_in_polygon_join(points, polygons, _CELL)
    return (
        hits.groupBy("poly_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("o_orderkey").cast("long").alias("sum_point_ids"),
        )
        .orderBy("poly_id")
    )


# ──────────────────────────────────────────────────────────────────────────
# wave37
# ──────────────────────────────────────────────────────────────────────────
# shared synthetic point cloud: a deterministic lon/lat grid over the
# New England box (in-domain for zone 19N, the LCC 26986 zone, and web
# mercator alike), 0.05-degree steps
_LON_SQL = "(-72.0 + (n_nationkey % 5) * 0.05)"
_LAT_SQL = "(41.5 + ((n_nationkey // 5) % 5) * 0.05)"


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        (F.lit(-72.0) + (F.col("n_nationkey") % 5) * 0.05).alias("lon"),
        (F.lit(41.5) + ((F.col("n_nationkey") / 5).cast("long") % 5) * 0.05).alias(
            "lat"
        ),
    )


_WEBM_X_SQL, _WEBM_Y_SQL = geo.webmercator_forward_sql(_LON_SQL, _LAT_SQL)


@_spec(
    "geo_webmercator_project",
    f"""
    SELECT n_nationkey,
           ROUND({_WEBM_X_SQL}, 3) AS x_3857,
           ROUND({_WEBM_Y_SQL}, 3) AS y_3857,
           ROUND(degrees(({_WEBM_X_SQL}) / {geo.WEBM_A!r}), 6) AS lon_rt,
           ROUND(degrees(2 * atan(exp(({_WEBM_Y_SQL}) / {geo.WEBM_A!r}))
                         - pi() / 2), 6) AS lat_rt
    FROM nation
    """,
    "G1 generalized — EPSG:4326 <-> EPSG:3857 (Web Mercator) both "
    "directions as Catalyst column expressions (functions/geo.py "
    "webmercator_*_cols; Snyder 7-1/7-4). The round-trip columns prove "
    "the inverse composes to identity at mm rounding; projection at "
    "scale is a codegen'd scan with zero Python",
)
def geo_webmercator_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    x, y = geo.webmercator_forward_cols("lon", "lat")
    projected = pts.select("n_nationkey", x.alias("x"), y.alias("y"))
    lon_rt, lat_rt = geo.webmercator_inverse_cols("x", "y")
    return projected.select(
        "n_nationkey",
        F.round("x", 3).alias("x_3857"),
        F.round("y", 3).alias("y_3857"),
        F.round(lon_rt, 6).alias("lon_rt"),
        F.round(lat_rt, 6).alias("lat_rt"),
    )


_UTM_X_SQL, _UTM_Y_SQL = geo.tm_forward_sql(
    _LON_SQL, _LAT_SQL, geo.UTM_ZONES[26919]
)


@_spec(
    "geo_utm_roundtrip",
    f"""
    SELECT n_nationkey,
           ROUND({_UTM_X_SQL}, 2) AS x_utm19,
           ROUND({_UTM_Y_SQL}, 2) AS y_utm19,
           CAST(ROUND({_LON_SQL}, 6) AS DOUBLE) AS lon_rt,
           CAST(ROUND({_LAT_SQL}, 6) AS DOUBLE) AS lat_rt
    FROM nation
    """,
    "G1 generalized — EPSG:4326 -> EPSG:26919 (UTM 19N) via the full "
    "Transverse Mercator series (Snyder 8-9..8-15) as column "
    "expressions, then BACK through the footpoint-latitude inverse "
    "(Arrow-batched; series round-trip error ~1e-9 deg, so the "
    "6-decimal rounded round-trip must equal the inputs the oracle "
    "regenerates literally — a failed series term shows up as a "
    "hash mismatch)",
)
def geo_utm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    zone = geo.UTM_ZONES[26919]
    pts = _points(spark, sf_dir)
    x, y = geo.tm_forward_cols("lon", "lat", zone)
    projected = pts.select("n_nationkey", x.alias("x"), y.alias("y"))

    @F.pandas_udf(T.StructType([
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ]))
    def inv(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        pairs = [geo.tm_inverse(a, b, zone) for a, b in zip(x, y)]
        return pd.DataFrame(pairs, columns=["lon", "lat"])

    return projected.select(
        "n_nationkey",
        F.round("x", 2).alias("x_utm19"),
        F.round("y", 2).alias("y_utm19"),
        inv("x", "y").alias("rt"),
    ).select(
        "n_nationkey",
        "x_utm19",
        "y_utm19",
        F.round(F.col("rt.lon"), 6).alias("lon_rt"),
        F.round(F.col("rt.lat"), 6).alias("lat_rt"),
    )


_LCC_X_SQL, _LCC_Y_SQL = geo.lcc_forward_sql(_LON_SQL, _LAT_SQL)


@_spec(
    "geo_lcc_forward_project",
    f"""
    SELECT n_nationkey,
           ROUND({_LCC_X_SQL}, 2) AS x_26986,
           ROUND({_LCC_Y_SQL}, 2) AS y_26986
    FROM nation
    """,
    "G1 — the FORWARD direction of the reference's projection "
    "(EPSG:4326 -> EPSG:26986 Mass State Plane, Snyder 15-1..15-4) as "
    "column expressions; with the existing inverse (geo_reproject_"
    "validity) the engine now reprojects both ways for every "
    "registered LCC zone",
)
def geo_lcc_forward_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    x, y = geo.lcc_forward_cols("lon", "lat")
    return pts.select(
        "n_nationkey",
        F.round(x, 2).alias("x_26986"),
        F.round(y, 2).alias("y_26986"),
    )


# ──────────────────────────────────────────────────────────────────────────
# wave43
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "abc_revenue_classes",
    concentration.abc_classes_sql("lineitem", "l_partkey", "l_extendedprice"),
    "concentration op — ABC/Pareto classification of parts by revenue "
    "(A = first 80% of cumulative value, B to 95%, C tail): all-"
    "decimal running prefix and thresholds so no boundary key can "
    "flip engines, distributed two-phase running sum (range shuffle + "
    "per-partition windows, no single-task global window), 3-row "
    "rollup.",
)
def abc_revenue_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return concentration.abc_classes(li, "l_partkey", "l_extendedprice")


@_spec(
    "contingency_priority_status",
    evaluation.contingency_residuals_sql(
        "orders", "o_orderpriority", "o_orderstatus"
    ),
    "stats op — contingency audit of order priority x status: "
    "per-cell expected counts and standardized residuals from exact "
    "integer marginals (single IEEE expressions, no rounding), "
    "table-level chi-square and Cramer's V rounded like the other "
    "test statistics; marginals derive from the cell table, never a "
    "second corpus scan.",
)
def contingency_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return evaluation.contingency_residuals(
        orders, "o_orderpriority", "o_orderstatus"
    )


@_spec(
    "user_diversity_histogram",
    entropy.diversity_histogram_sql(),
    "profiling op — histogram of per-user inverse-Simpson effective "
    "event-type counts: the per-key diversity is a single division of "
    "exact bigints (floor lands exactly on k for uniform k-type "
    "users), three shrinking map-side-combined aggregations, no ln, "
    "no rounding.",
)
def user_diversity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return entropy.diversity_histogram(events)


@_spec(
    "doc_length_log2_histogram",
    aggregates.log2_histogram_sql("documents", "source", "n_chars"),
    "profiling op — per-source power-of-two length histogram via "
    "EXACT bit-length bucketing (length(bin(x)) - 1, immune to the "
    "float-log2 cliff at exact powers of two); one scan expression + "
    "one (source, bucket) aggregation.",
)
def doc_length_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return aggregates.log2_histogram(docs, "source", "n_chars")


_NEARDUP_MATRIX_SQL = f"""
    WITH hits AS ({dedup.verified_lsh_edges_sql(min_jaccard=0.5)}),
    lab AS (
      SELECT h.a_id, h.b_id,
             least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b
      FROM hits h
      JOIN documents da ON da.doc_id = h.a_id
      JOIN documents db ON db.doc_id = h.b_id
    )
    SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM lab GROUP BY source_a, source_b
    """


@_spec(
    "neardup_source_matrix",
    _NEARDUP_MATRIX_SQL,
    "corpus-forensics op — cross-source near-duplicate contamination "
    "matrix: portable-family MinHash LSH candidates, exact-Jaccard "
    "verified at >= 0.5 (a single exact-int division, so the "
    "threshold cannot flip engines), pair endpoints labeled by source "
    "with least/greatest normalization, source x source pair counts. "
    "The who-copies-whom audit that tells you which corpus slices "
    "leak into each other before mixing weights are set.",
)
def neardup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 3)
    # round 4: ride the shared optimized edge stage (spread signature
    # scan, repartitioned candidates, broadcast verify join)
    hits = dedup.verified_lsh_edges(
        docs, id_col="doc_id", text_col="text", n=3, min_jaccard=0.5,
    ).select("a_id", "b_id")
    src = docs.select("doc_id", "source")
    return (
        hits.join(src.select(F.col("doc_id").alias("a_id"), F.col("source").alias("__sa")), "a_id")
        .join(src.select(F.col("doc_id").alias("b_id"), F.col("source").alias("__sb")), "b_id")
        .groupBy(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


# ──────────────────────────────────────────────────────────────────────────
# wave44
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "last_touch_attribution",
    attribution.last_touch_attribution_sql(),
    "attribution op — last-touch conversion credit within a 7-day "
    "lookback as ONE user-keyed window pass (last-ignorenulls over "
    "unboundedPreceding..-1), not a conversions-to-touches range "
    "join: deterministic (ts, event_id) order, exact integer-micros "
    "lookback compare, channels-row rollup.",
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return attribution.last_touch_attribution(events)


@_spec(
    "order_total_reconciliation",
    reconcile.order_total_reconciliation_sql(),
    "finance-audit op — header-vs-recomputed-lines reconciliation: "
    "per-line price*(1-disc)*(1+tax) DECIMAL-exact at scale 6, "
    "order-free per-order sums, decimal magnitude buckets (exact / "
    "<1 / >=1 / no_lines) so no boundary order flips engines; one "
    "order-key join, 4-row rollup.",
)
def order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return reconcile.order_total_reconciliation(orders, li)


@_spec(
    "duplicate_order_audit",
    reconcile.duplicate_transaction_audit_sql(),
    "finance-audit op — double-charge tripwire: (customer, exact-"
    "decimal amount, day) group multiplicity histogram; one groupBy "
    "plus a group-table rollup, all exact bigints.",
)
def duplicate_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return reconcile.duplicate_transaction_audit(orders)


@_spec(
    "feature_hash_collision_report",
    text.feature_hash_report_sql(),
    "feature-engineering op — hashing-trick pre-flight: md5-portable "
    "token->bucket assignment (1024 buckets), bucket-occupancy "
    "histogram with vocab and mass columns, all exact bigints; "
    "explode + three shrinking aggregations.",
)
def feature_hash_collision_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.feature_hash_report(docs)


# ──────────────────────────────────────────────────────────────────────────
# wave45
# ──────────────────────────────────────────────────────────────────────────
_QI = ("c_nationkey", "c_mktsegment")


@_spec(
    "k_anonymity_customers",
    privacy.k_anonymity_audit_sql("customer", _QI, "c_acctbal"),
    "privacy op — k-anonymity / l-diversity release audit over the "
    "customer quasi-identifiers (nation, segment) with account "
    "balance as the sensitive column: equivalence-class size "
    "histogram with per-size minimum l, all exact COUNT/COUNT "
    "DISTINCT, one QI groupBy + class-table rollups.",
)
def k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return privacy.k_anonymity_audit(cust, _QI, "c_acctbal")


@_spec(
    "activity_streak_histogram",
    timeseries.activity_streak_histogram_sql(),
    "habit-metric op — longest consecutive-active-day streak per user "
    "via the gaps-and-islands identity (day - row_number constant "
    "within a run): no self-join, no iteration, all-integer; one "
    "shuffle on the user key, histogram rollup.",
)
def activity_streak_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.activity_streak_histogram(events)


@_spec(
    "kwic_spark_snippets",
    text.kwic_snippets_sql("spark"),
    "concordance op — keyword-in-context snippets for 'spark': "
    "tokenize once, positional explode, term filter, +-2-token array "
    "slice; zero shuffle (pure scan-stage expressions), byte-exact "
    "string output.",
)
def kwic_spark_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.kwic_snippets(docs, "spark")


_FD_PAIRS = (("p_brand", "p_type"), ("p_type", "p_brand"), ("p_partkey", "p_name"))


@_spec(
    "functional_dependency_parts",
    profiling.functional_dependency_audit_sql("part", _FD_PAIRS),
    "profiling op — candidate functional dependencies over part "
    "(brand->type, type->brand, key->name): per-lhs distinct-rhs "
    "class tables, violation counts, exact bigints throughout.",
)
def functional_dependency_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return profiling.functional_dependency_audit(part, _FD_PAIRS)


_KEY_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")


@_spec(
    "key_candidate_orders",
    profiling.key_candidate_profile_sql("orders", _KEY_COLS),
    "profiling op — per-column uniqueness/key-candidate profile of "
    "orders in ONE aggregate pass (multi-distinct expanded by the "
    "engine, still a single scan) + static unpivot; exact distinct/"
    "null counts, single-division uniqueness ratio.",
)
def key_candidate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return profiling.key_candidate_profile(orders, _KEY_COLS)


# ──────────────────────────────────────────────────────────────────────────
# wave48
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "largest_remainder_seats",
    apportion.largest_remainder_seats_sql("customer", "c_nationkey", 120),
    "election op — Hamilton largest-remainder apportionment of 120 "
    "seats by customer nation: ALL-integer quotas ((v*S) div T / mod "
    "T — no float quota boundary), deterministic remainder ranking "
    "over the party-sized table; total seats sum exactly to S. "
    "Extends election_results_etl.py's vote-share surface.",
)
def largest_remainder_seats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return apportion.largest_remainder_seats(cust, "c_nationkey", 120)


@_spec(
    "xmr_control_chart",
    timeseries.xmr_control_chart_sql(),
    "ops op — Shewhart XmR individuals chart over per-type daily "
    "counts: exact integer moving ranges, one fixed IEEE limit "
    "expression (identical both engines), exact-integer-vs-limit "
    "violation counts; daily rollup + one lag window.",
)
def xmr_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.xmr_control_chart(events)


@_spec(
    "shipping_sla_report",
    """
    WITH j AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS lag_days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_within_30d,
           CAST(SUM(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS sla_30d,
           CAST(MAX(lag_days) AS BIGINT) AS max_lag_days
    FROM j GROUP BY priority
    """,
    "SLA op — per-priority shipping latency: integer datediff lag, "
    "exact within-30d counts, single-division SLA ratio; one "
    "order-key join + priority rollup.",
)
def shipping_sla_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lag = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    j = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"), lag.alias("lag_days")
    )
    return j.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum((F.col("lag_days") <= 30).cast("bigint"))
        .cast("bigint")
        .alias("n_within_30d"),
        (
            F.sum((F.col("lag_days") <= 30).cast("bigint")).cast("double")
            / F.count(F.lit(1))
        ).alias("sla_30d"),
        F.max("lag_days").cast("bigint").alias("max_lag_days"),
    )


@_spec(
    "shift_share_events",
    """
    WITH span AS (
      SELECT MIN(ts) AS t0, MAX(ts) AS t1 FROM events
    ),
    halves AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN epoch_us(ts) - (SELECT epoch_us(t0) FROM span)
                       < ((SELECT epoch_us(t1) FROM span)
                          - (SELECT epoch_us(t0) FROM span)) // 2
                       THEN 1 ELSE 0 END) AS BIGINT) AS h1,
             CAST(SUM(CASE WHEN epoch_us(ts) - (SELECT epoch_us(t0) FROM span)
                       < ((SELECT epoch_us(t1) FROM span)
                          - (SELECT epoch_us(t0) FROM span)) // 2
                       THEN 0 ELSE 1 END) AS BIGINT) AS h2
      FROM events GROUP BY event_type
    ),
    nat AS (SELECT CAST(SUM(h1) AS BIGINT) AS N1, CAST(SUM(h2) AS BIGINT) AS N2
            FROM halves)
    SELECT h.event_type, h.h1, h.h2,
           h.h2 - h.h1 AS total_shift,
           h.h1 * (CAST(nat.N2 AS DOUBLE) / nat.N1 - 1) AS national_effect,
           (h.h2 - h.h1) - h.h1 * (CAST(nat.N2 AS DOUBLE) / nat.N1 - 1)
             AS competitive_effect
    FROM halves h CROSS JOIN nat
    """,
    "econ op — shift-share decomposition of event-type growth "
    "between the corpus's two time halves: each type's change splits "
    "into the national-growth effect and the competitive residual; "
    "exact integer half-counts (integer-micros midpoint), single "
    "IEEE effect expressions; one scan + type rollup.",
)
def shift_share_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    span = events.agg(
        F.min(F.unix_micros("ts")).alias("__t0"),
        F.max(F.unix_micros("ts")).alias("__t1"),
    )
    tagged = events.crossJoin(F.broadcast(span)).select(
        "event_type",
        (
            F.unix_micros("ts") - F.col("__t0")
            < F.expr("(__t1 - __t0) div 2")
        ).cast("int").alias("__in_h1"),
    )
    halves = tagged.groupBy("event_type").agg(
        F.sum("__in_h1").cast("bigint").alias("h1"),
        F.sum(1 - F.col("__in_h1")).cast("bigint").alias("h2"),
    )
    nat = halves.agg(
        F.sum("h1").cast("bigint").alias("__N1"),
        F.sum("h2").cast("bigint").alias("__N2"),
    )
    g = F.col("__N2").cast("double") / F.col("__N1") - 1
    return halves.crossJoin(F.broadcast(nat)).select(
        "event_type",
        "h1",
        "h2",
        (F.col("h2") - F.col("h1")).alias("total_shift"),
        (F.col("h1") * g).alias("national_effect"),
        ((F.col("h2") - F.col("h1")) - F.col("h1") * g).alias(
            "competitive_effect"
        ),
    )


@_spec(
    "pct_of_parent_rollup",
    """
    WITH cust_rev AS (
      SELECT c.c_nationkey, CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                                 AS DECIMAL(38,2)) AS rev
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey
    ),
    nation_rev AS (
      SELECT n.n_regionkey, n.n_nationkey, n.n_name, cr.rev
      FROM cust_rev cr JOIN nation n ON n.n_nationkey = cr.c_nationkey
    ),
    region_rev AS (
      SELECT n_regionkey, CAST(SUM(rev) AS DECIMAL(38,2)) AS region_rev
      FROM nation_rev GROUP BY n_regionkey
    ),
    grand AS (SELECT CAST(SUM(rev) AS DECIMAL(38,2)) AS grand_rev
              FROM nation_rev)
    SELECT nr.n_regionkey, nr.n_nationkey, nr.n_name,
           CAST(nr.rev AS DOUBLE) AS revenue,
           CAST(nr.rev AS DOUBLE) / CAST(rr.region_rev AS DOUBLE)
             AS pct_of_region,
           CAST(nr.rev AS DOUBLE) / CAST(g.grand_rev AS DOUBLE) AS pct_of_total
    FROM nation_rev nr
    JOIN region_rev rr ON rr.n_regionkey = nr.n_regionkey
    CROSS JOIN grand g
    """,
    "BI op — percent-of-parent hierarchy rollup (nation -> region -> "
    "grand total of order revenue): decimal-exact sums at every "
    "grain, parent totals derive from the child table (one corpus "
    "aggregation), single-division shares; broadcast dimension "
    "joins.",
)
def pct_of_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cust_rev = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("__rev")
        )
    )
    nation_rev = cust_rev.join(
        F.broadcast(nation.select("n_nationkey", "n_regionkey", "n_name")),
        cust_rev["c_nationkey"] == F.col("n_nationkey"),
    )
    region_rev = nation_rev.groupBy("n_regionkey").agg(
        F.sum("__rev").cast("decimal(38,2)").alias("__region_rev")
    )
    grand = nation_rev.agg(
        F.sum("__rev").cast("decimal(38,2)").alias("__grand_rev")
    )
    return (
        nation_rev.join(F.broadcast(region_rev), "n_regionkey")
        .crossJoin(F.broadcast(grand))
        .select(
            "n_regionkey",
            "n_nationkey",
            "n_name",
            F.col("__rev").cast("double").alias("revenue"),
            (
                F.col("__rev").cast("double")
                / F.col("__region_rev").cast("double")
            ).alias("pct_of_region"),
            (
                F.col("__rev").cast("double")
                / F.col("__grand_rev").cast("double")
            ).alias("pct_of_total"),
        )
    )


# ──────────────────────────────────────────────────────────────────────────
# wave54
# ──────────────────────────────────────────────────────────────────────────
# Deterministic synthetic coordinates (no lat/lon in the star schema):
# integer modular spreads, exact halves — identical in both engines.
_CLAT = "((c_custkey * 37) % 120) / 2.0 - 30"
_CLON = "((c_custkey * 73) % 720) / 2.0 - 180"
_SLAT = "((s_suppkey * 41) % 120) / 2.0 - 30"
_SLON = "((s_suppkey * 79) % 720) / 2.0 - 180"


@_spec(
    "haversine_nearest_supplier",
    f"""
    WITH p AS (SELECT c_custkey, {_CLAT} AS lat, {_CLON} AS lon
               FROM customer),
    s AS (SELECT s_suppkey, {_SLAT} AS lat, {_SLON} AS lon FROM supplier),
    scored AS (
      SELECT p.c_custkey, s.s_suppkey,
             {spatial.round_fast_sql(spatial.haversine_m_sql("p.lat", "p.lon", "s.lat", "s.lon"))} AS d
      FROM p CROSS JOIN s
    )
    SELECT c_custkey,
           MIN(s_suppkey) FILTER (WHERE d = md) AS s_suppkey,
           MIN(md) AS distance_m
    FROM (SELECT *, MIN(d) OVER (PARTITION BY c_custkey) AS md FROM scored)
    GROUP BY c_custkey
    """,
    "spatial op — haversine nearest-supplier assignment per customer "
    "over deterministic synthetic coordinates: broadcast site "
    "dimension (points never shuffle), 6dp-rounded distances so a "
    "last-ulp trig difference cannot flip the winner, min_by with "
    "site-id tie-break.",
)
def haversine_nearest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    points = cust.select(
        "c_custkey",
        F.expr(_CLAT).alias("lat"),
        F.expr(_CLON).alias("lon"),
    )
    sites = supp.select(
        "s_suppkey",
        F.expr(_SLAT).alias("lat"),
        F.expr(_SLON).alias("lon"),
    )
    return spatial.nearest_neighbor_join(points, sites, "c_custkey", "s_suppkey")


@_spec(
    "haversine_nn_bucketed",
    f"""
    WITH p AS (SELECT c_custkey, {_CLAT} AS lat, {_CLON} AS lon
               FROM customer),
    s AS (SELECT s_suppkey, {_SLAT} AS lat, {_SLON} AS lon FROM supplier),
    scored AS (
      SELECT p.c_custkey, s.s_suppkey,
             {spatial.round_fast_sql(spatial.haversine_m_sql("p.lat", "p.lon", "s.lat", "s.lon"))} AS d
      FROM p CROSS JOIN s
    )
    SELECT c_custkey,
           MIN(s_suppkey) FILTER (WHERE d = md) AS s_suppkey,
           MIN(md) AS distance_m
    FROM (SELECT *, MIN(d) OVER (PARTITION BY c_custkey) AS md FROM scored)
    GROUP BY c_custkey
    """,
    "spatial op (round 4, VERDICT r3 #6) — grid-bucketed haversine "
    "nearest-neighbor join: the scale path when sites exceed broadcast "
    "size. Sites explode x9 onto a 15-degree cell neighborhood (with "
    "longitude wrap); ONE shuffle equi-join on the cell id replaces "
    "the cross join; each winner is certified against a provable "
    "lower bound on any outside-block site's distance, with the "
    "uncertified tail falling back to the exact scan. The oracle is "
    "the same exact-NN SQL as haversine_nearest_supplier — the "
    "bucketed plan must produce IDENTICAL assignments (equality also "
    "pinned against the broadcast form in tests/test_wave54.py).",
)
def haversine_nn_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    points = cust.select(
        "c_custkey",
        F.expr(_CLAT).alias("lat"),
        F.expr(_CLON).alias("lon"),
    )
    sites = supp.select(
        "s_suppkey",
        F.expr(_SLAT).alias("lat"),
        F.expr(_SLON).alias("lon"),
    )
    return spatial.nearest_neighbor_join_bucketed(
        points, sites, "c_custkey", "s_suppkey"
    )


@_spec(
    "event_triple_patterns",
    assoc.frequent_triples_sql(
        "SELECT user_id, CAST(ts AS DATE) AS d, event_type FROM events",
        ["user_id", "d"],
        "event_type",
    ),
    "behavior op — Apriori level-3: unordered event-type TRIPLES "
    "co-present in a (user, day) basket with support >= 2: distinct "
    "basket-item reduction first, 3-way self-equi-join with an "
    "ordering chain (C(k,3) per basket, k <= taxonomy size); the set "
    "complement of wave-39's sequence trigrams.",
)
def event_triple_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    b = events.select(
        "user_id", F.col("ts").cast("date").alias("d"), "event_type"
    )
    return assoc.frequent_triples(b, ["user_id", "d"], "event_type")


@_spec(
    "cohort_ltv_curve",
    segmentation.cohort_ltv_curve_sql(),
    "BI op — cohort lifetime-value triangle: users cohorted by first-"
    "activity month, cumulative value at each month-since: exact "
    "integer month arithmetic, monthly sums rounded 6dp BEFORE the "
    "ordered cumulative window so running totals are bit-identical; "
    "the unit-economics companion to cohort_retention_matrix.",
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return segmentation.cohort_ltv_curve(events)


@_spec(
    "part_fingerprint_clusters",
    text.fingerprint_clusters_sql(
        """(SELECT p_partkey AS id, p_name AS name FROM part
            UNION ALL
            SELECT p_partkey + 1000000000 AS id, upper(p_name) AS name
            FROM part WHERE p_partkey % 10 = 0)""",
        "id",
        "name",
    ),
    "cleaning op — OpenRefine fingerprint clustering (sorted distinct "
    "lowercase token key) over part names with deterministic case-"
    "variant rows planted (every 10th part uppercased): clusters = "
    "keys with >= 2 distinct raw spellings; scan-stage expressions, "
    "fingerprints shuffle, never raw strings twice.",
)
def part_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    base = part.select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("name")
    )
    variants = (
        part.where(F.col("p_partkey") % 10 == 0)
        .select(
            (F.col("p_partkey") + 1000000000).alias("id"),
            F.upper(F.col("p_name")).alias("name"),
        )
    )
    return text.fingerprint_clusters(base.unionByName(variants), "id", "name")


@_spec(
    "partition_skew_report",
    profiling.partition_skew_report_sql("events", "user_id"),
    "engine-ops op — shuffle-partition skew diagnosis for the "
    "events.user_id key: portable md5 bucketing (stand-in for the "
    "hash partitioner), per-bucket load, hot-key-vs-hot-bucket "
    "distinction (top_key_rows), max/avg skew ratio; exact integers, "
    "one division.",
)
def partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return profiling.partition_skew_report(events, "user_id")


# ──────────────────────────────────────────────────────────────────────────
# wave60
# ──────────────────────────────────────────────────────────────────────────
_ELASTICITY_PTS_SQL = """(
  SELECT part.p_brand,
         ln(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)) AS lx,
         ln(CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)) AS ly
  FROM lineitem JOIN part ON part.p_partkey = lineitem.l_partkey
  GROUP BY lineitem.l_partkey, part.p_brand
) pts"""


@_spec(
    "price_elasticity_by_brand",
    regression.group_ols_oracle_sql(_ELASTICITY_PTS_SQL, ["p_brand"], "lx", "ly"),
    "econ op — log-log demand elasticity per brand: per-part "
    "(ln unit price, ln total quantity) points from DECIMAL-exact "
    "spend/quantity sums, then the repo's sufficient-statistics "
    "group OLS (slope = elasticity, rounded per its oracle "
    "discipline).",
)
def price_elasticity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pts = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .groupBy("l_partkey", "p_brand")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("__sp"),
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("__sq"),
        )
        .select(
            "p_brand",
            F.log(F.col("__sp") / F.col("__sq").cast("double")).alias("lx"),
            F.log(F.col("__sq").cast("double")).alias("ly"),
        )
    )
    fit = regression.group_ols(pts, ["p_brand"], "lx", "ly")
    return fit.select(
        "p_brand",
        "n",
        F.round("slope", 4).alias("slope"),
        F.round("intercept", 4).alias("intercept"),
        F.round("r2", 4).alias("r2"),
    )


@_spec(
    "funnel_window_sensitivity",
    """
    WITH first_click AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t0
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    purchases AS (
      SELECT user_id, epoch_us(ts) AS tp
      FROM events WHERE event_type = 'purchase'
    ),
    wins AS (SELECT unnest([1, 24, 72]) AS w),
    conv AS (
      SELECT wins.w, first_click.user_id,
             CAST(MAX(CASE WHEN purchases.tp >= first_click.t0
                            AND purchases.tp < first_click.t0
                                + w * CAST(3600000000 AS BIGINT)
                           THEN 1 ELSE 0 END) AS INTEGER) AS c
      FROM first_click
      CROSS JOIN wins
      LEFT JOIN purchases ON purchases.user_id = first_click.user_id
      GROUP BY wins.w, first_click.user_id
    )
    SELECT CAST(w AS BIGINT) AS window_hours,
           CAST(COUNT(*) AS BIGINT) AS n_clickers,
           CAST(SUM(c) AS BIGINT) AS n_converted,
           CAST(SUM(c) AS DOUBLE) / COUNT(*) AS conversion_rate
    FROM conv GROUP BY w
    """,
    "funnel op — conversion-window sensitivity: first-click to "
    "purchase conversion at 1/24/72h attribution windows in one "
    "pass (exact integer-micros comparisons); shows how much the "
    "window choice moves the headline rate.",
)
def funnel_window_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_click = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("t0"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("tp")
    )
    wins = F.explode(F.array(F.lit(1), F.lit(24), F.lit(72))).alias("w")
    conv = (
        first_click.select("user_id", "t0", wins)
        .join(purchases, "user_id", "left")
        .groupBy("w", "user_id")
        .agg(
            F.max(
                (
                    (F.col("tp") >= F.col("t0"))
                    & (
                        F.col("tp")
                        < F.col("t0")
                        + F.col("w") * F.lit(3600000000).cast("bigint")
                    )
                ).cast("int")
            ).alias("c")
        )
        .na.fill({"c": 0})
    )
    return conv.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clickers"),
        F.sum("c").cast("bigint").alias("n_converted"),
        (F.sum("c").cast("double") / F.count(F.lit(1))).alias(
            "conversion_rate"
        ),
    ).select(
        F.col("w").cast("bigint").alias("window_hours"),
        "n_clickers",
        "n_converted",
        "conversion_rate",
    )


@_spec(
    "spend_gini_by_quarter",
    concentration.gini_by_period_sql(
        "SELECT o_custkey, o_orderdate, o_totalprice FROM orders",
        "CAST(year(o_orderdate) * 10 + quarter(o_orderdate) AS BIGINT)",
        "o_custkey",
        "o_totalprice",
    ),
    "inequality op — Gini of per-customer spend per quarter: "
    "DECIMAL-exact spends and rank-weighted sums, period-partitioned "
    "rank windows (no global sort), fixed IEEE Gini expression with "
    "zero rounding; the concentration TREND view.",
)
def spend_gini_by_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    period = (F.year("o_orderdate") * 10 + F.quarter("o_orderdate")).cast(
        "bigint"
    )
    return concentration.gini_by_period(
        orders, period, "o_custkey", "o_totalprice"
    )


@_spec(
    "dow_hour_heatmap",
    """
    WITH cells AS (
      SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS INTEGER) AS dow,
             CAST(hour(ts) AS INTEGER) AS hod,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    tot AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS t
      FROM cells GROUP BY event_type
    )
    SELECT cells.event_type, cells.dow, cells.hod, cells.n,
           CAST(cells.n AS DOUBLE) / tot.t AS share
    FROM cells JOIN tot ON tot.event_type = cells.event_type
    """,
    "BI op — (ISO weekday x hour) activity heatmap per event type "
    "with within-type share: exact integer cells, portable weekday/"
    "hour extraction, one division.",
)
def dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        ((F.dayofweek(F.col("ts").cast("date")) + 5) % 7 + 1)
        .cast("int")
        .alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = cells.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("t")
    )
    return cells.join(tot, "event_type").select(
        "event_type",
        "dow",
        "hod",
        "n",
        (F.col("n").cast("double") / F.col("t")).alias("share"),
    )


# ──────────────────────────────────────────────────────────────────────────
# wave68
# ──────────────────────────────────────────────────────────────────────────
_RIPLEY_RADII = [500000.0, 1000000.0, 2000000.0]
#: area of the ±30° latitude band the synthetic coordinates span:
#: 2*pi*R^2*(sin(30°) - sin(-30°)) = 2*pi*R^2 — spelled as one literal
#: expression so both engines evaluate the identical double
_RIPLEY_AREA = (
    "CAST(2.0 AS DOUBLE) * CAST(3.141592653589793 AS DOUBLE)"
    " * CAST(6371000.0 AS DOUBLE) * CAST(6371000.0 AS DOUBLE)"
)
_SUPP_POINTS_SQL = f"""
      SELECT s_suppkey, {_SLAT} AS lat, {_SLON} AS lon FROM supplier
"""


@_spec(
    "ripley_k_suppliers",
    spatial.ripley_k_sql(
        _SUPP_POINTS_SQL.strip(), "s_suppkey", _RIPLEY_RADII, _RIPLEY_AREA
    ),
    "spatial op — Ripley's K/L at 500/1000/2000 km over the supplier "
    "point pattern (clustered vs CSR vs dispersed at each scale; "
    "L(r)-r reads as clustering excess). Distances are 6dp-rounded "
    "haversine (trig-determinism discipline) so pair counts are "
    "exact integers. The pair stage is the explicitly bounded kernel "
    "over a broadcastable dimension — the same contract as "
    "nearest_neighbor_join, with the grid-bucketed path documented "
    "for point tables beyond broadcast size.",
)
def ripley_k_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    points = supp.select(
        "s_suppkey",
        F.expr(_SLAT).alias("lat"),
        F.expr(_SLON).alias("lon"),
    )
    return spatial.ripley_k(
        points, "s_suppkey", _RIPLEY_RADII, _RIPLEY_AREA
    )


# ──────────────────────────────────────────────────────────────────────────
# wave86: grid-bucketed DBSCAN (operators/spatial.py dbscan_grid)
# ──────────────────────────────────────────────────────────────────────────
from ..operators import spatial as _spatial86

_DBSCAN_PTS_SQL = f"""SELECT c_custkey, {_CLAT} AS px, {_CLON} AS py
           FROM customer"""


@_spec(
    "dbscan_customer_sites",
    _spatial86.dbscan_grid_sql(_DBSCAN_PTS_SQL, "c_custkey", 1.0, 3),
    "spatial op — DBSCAN over the synthesized customer coordinates "
    "(eps=1.0, minPts=3): cell-grid candidate generation (3x3 "
    "neighborhood equi-join, O(n x local density) instead of "
    "all-pairs), exact eps filter, min-label connected components "
    "over core pairs, border points adopt the MIN core-neighbor "
    "label. The oracle deliberately searches neighbors by ALL-PAIRS "
    "join and resolves components by recursive-CTE BFS, so the grid "
    "pruning and the iterative CC are each cross-checked against an "
    "independent algorithm.",
)
def dbscan_customer_sites(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        "c_custkey",
        F.expr(_CLAT).alias("px"),
        F.expr(_CLON).alias("py"),
    )
    return _spatial86.dbscan_grid(
        pts, "c_custkey", "px", "py", eps=1.0, min_pts=3
    )


# ──────────────────────────────────────────────────────────────────────────
# wave91: support-function hull + newsvendor stocking quantiles
# ──────────────────────────────────────────────────────────────────────────
_HULL_PTS_SQL = f"""SELECT s_nationkey, s_suppkey, {_SLAT} AS px, {_SLON} AS py
           FROM supplier"""


@_spec(
    "support_hull_nations",
    _spatial86.support_hull_sql(_HULL_PTS_SQL, "s_nationkey", "s_suppkey"),
    "spatial op — approximate convex hull of each nation's supplier "
    "footprint via SUPPORT FUNCTIONS: 12 pinned directions (cosines "
    "are Python-evaluated literals, no engine trig), per-direction "
    "extreme point by one groupBy argmax, shoelace area over the "
    "direction-ordered extremes. Monotone-chain hulls are sequential "
    "per group; the support form is one broadcast fan-out + two hash "
    "aggregates — scan shape at any scale, inscribing the true hull "
    "with error vanishing in the direction count.",
)
def support_hull_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    pts = supp.select(
        "s_nationkey",
        "s_suppkey",
        F.expr(_SLAT).alias("px"),
        F.expr(_SLON).alias("py"),
    )
    return _spatial86.support_hull(
        pts, "s_nationkey", "s_suppkey", "px", "py"
    )


@_spec(
    "newsvendor_stock_levels",
    """
    WITH weekly AS (
      SELECT p.p_brand,
             CAST(date_diff('day', DATE '1990-01-01',
                            CAST(l.l_shipdate AS DATE)) // 7 AS BIGINT)
               AS week,
             SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS demand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_weeks,
           quantile_cont(CAST(demand AS DOUBLE), 0.5) AS stock_cf50,
           quantile_cont(CAST(demand AS DOUBLE), 0.75) AS stock_cf75,
           quantile_cont(CAST(demand AS DOUBLE), 0.9) AS stock_cf90
    FROM weekly GROUP BY p_brand ORDER BY p_brand
    """,
    "ops op — newsvendor stocking levels per brand: weekly demand "
    "distribution (DECIMAL-exact sums), optimal stock = the demand "
    "quantile at the critical fractile cu/(cu+co) for three "
    "cost-ratio scenarios (1:1, 3:1, 9:1 -> 0.5/0.75/0.9). The "
    "classic single-period inventory optimum reduced to exact "
    "interpolated group quantiles — two hash aggregates, no solver. "
    "At 100 TB the quantiles come off percentile_approx/KLL instead "
    "(group_percentiles' documented swap).",
)
def newsvendor_stock_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    weekly = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            "p_brand",
            F.floor(
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.lit("1990-01-01").cast("date"),
                )
                / 7
            )
            .cast("bigint")
            .alias("week"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("demand")
        )
    )
    return (
        weekly.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
            F.expr("percentile(demand, 0.5)").alias("stock_cf50"),
            F.expr("percentile(demand, 0.75)").alias("stock_cf75"),
            F.expr("percentile(demand, 0.9)").alias("stock_cf90"),
        )
        .orderBy("p_brand")
    )


@_spec(
    "transition_latency_profile",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             epoch_us(ts) AS t,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type,
             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_t
      FROM events
    ),
    gaps AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(next_t - t AS BIGINT) AS gap_us
      FROM seq WHERE next_type IS NOT NULL
    ),
    ranked AS (
      SELECT from_type, to_type, gap_us,
             CAST(ROW_NUMBER() OVER (PARTITION BY from_type, to_type
                                     ORDER BY gap_us) AS BIGINT) AS r,
             CAST(COUNT(*) OVER (PARTITION BY from_type, to_type)
                  AS BIGINT) AS n
      FROM gaps
    ),
    agg AS (
      SELECT from_type, to_type, MAX(n) AS n,
             MAX(CASE WHEN r = (5 * (n - 1)) // 10 + 1
                 THEN gap_us END) AS a50,
             MAX(CASE WHEN r = LEAST((5 * (n - 1)) // 10 + 2, n)
                 THEN gap_us END) AS b50,
             MAX((5 * (n - 1)) % 10) AS m50,
             MAX(CASE WHEN r = (9 * (n - 1)) // 10 + 1
                 THEN gap_us END) AS a90,
             MAX(CASE WHEN r = LEAST((9 * (n - 1)) // 10 + 2, n)
                 THEN gap_us END) AS b90,
             MAX((9 * (n - 1)) % 10) AS m90
      FROM ranked GROUP BY 1, 2
    )
    SELECT from_type, to_type,
           n AS n_transitions,
           CAST(a50 * (10 - m50) + b50 * m50 AS DOUBLE) / 10.0
             AS p50_gap_us,
           CAST(a90 * (10 - m90) + b90 * m90 AS DOUBLE) / 10.0
             AS p90_gap_us
    FROM agg ORDER BY 1, 2
    """,
    "ops op — process-mining transition latency profile: per "
    "directly-follows pair (from_event -> to_event), the transition "
    "count and the median / p90 inter-event gap — the bottleneck map "
    "event_transition_matrix's bare counts can't give (a frequent "
    "fast hop and a rare slow one need different fixes). One "
    "per-user window (lag shuffle on user_id), exact microsecond "
    "gaps, then a 25-row group-quantile rollup; ties in the event "
    "order break on event_id in both engines. r8 audit re-triage: "
    "the interpolated percentiles are computed from ORDER STATISTICS "
    "with an exact-bigint numerator ((a*(10-m)+b*m)/10, m = "
    "p*(n-1) mod 1 in tenths) instead of the engines' native "
    "percentile/quantile_cont, whose interpolation shapes diverge at "
    "the ulp level (probed: 3/6 adversarial trials at ~1e11) on "
    "unrounded ~9e10 outputs.",
)
def transition_latency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type"),
        F.unix_micros("ts").alias("t"),
        F.lead("event_type").over(w).alias("to_type"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_t"),
    ).filter(F.col("to_type").isNotNull())
    gaps = seq.select(
        F.col("event_type").alias("from_type"),
        "to_type",
        (F.col("next_t") - F.col("t")).cast("bigint").alias("gap_us"),
    )
    # exact-integer percentile interpolation (see oracle docstring):
    # native percentile()/quantile_cont() interpolate with different
    # IEEE shapes, which diverges unrounded ~9e10 outputs by an ulp
    wr = Window.partitionBy("from_type", "to_type").orderBy("gap_us")
    wn = Window.partitionBy("from_type", "to_type")
    ranked = gaps.select(
        "from_type",
        "to_type",
        "gap_us",
        F.row_number().over(wr).cast("bigint").alias("r"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    def _pick(k: int, tag: str):
        lo = F.expr(f"({k} * (n - 1)) DIV 10")
        return [
            F.max(
                F.when(F.col("r") == lo + 1, F.col("gap_us"))
            ).alias(f"a{tag}"),
            F.max(
                F.when(
                    F.col("r") == F.least(lo + 2, F.col("n")),
                    F.col("gap_us"),
                )
            ).alias(f"b{tag}"),
            F.max(F.expr(f"({k} * (n - 1)) % 10")).alias(f"m{tag}"),
        ]
    agg = ranked.groupBy("from_type", "to_type").agg(
        F.max("n").alias("n"), *_pick(5, "50"), *_pick(9, "90")
    )
    def _interp(tag: str):
        num = F.col(f"a{tag}") * (10 - F.col(f"m{tag}")) + F.col(
            f"b{tag}"
        ) * F.col(f"m{tag}")
        return (num.cast("double") / F.lit(10.0)).alias(f"p{tag}_gap_us")
    return agg.select(
        "from_type",
        "to_type",
        F.col("n").alias("n_transitions"),
        _interp("50"),
        _interp("90"),
    ).orderBy("from_type", "to_type")


# ──────────────────────────────────────────────────────────────────────────
# wave105: Slope-One collaborative filtering (operators/recommend.py)
# ──────────────────────────────────────────────────────────────────────────
from ..operators.recommend import slope_one_eval, slope_one_eval_sql

_RATINGS_SQL_W105 = """SELECT o_custkey AS u, l_partkey AS i,
                  CAST(SUM(l_quantity) AS BIGINT) AS r
           FROM lineitem JOIN orders ON o_orderkey = l_orderkey
           GROUP BY 1, 2"""


@_spec(
    "slope_one_rating_eval",
    slope_one_eval_sql(_RATINGS_SQL_W105),
    "recsys op — weighted Slope-One collaborative filtering on the "
    "customer x part quantity matrix with a deterministic (u+i)%10 "
    "hold-out: precompute per-item-pair deviation state from the "
    "user-keyed self-join (the Amazon-style item-item shape — pair "
    "state is bounded by items^2 and co-rating sparsity, never "
    "users^2), predict each held-out rating as the support-weighted "
    "rational, and report MAE against the user-train-mean baseline "
    "every CF model must beat. Ratings, deviations and predictions "
    "are exact integer sums end to end — no iterative training, no "
    "float drift.",
)
def slope_one_rating_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ratings = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .agg(F.sum("l_quantity").cast("bigint").alias("r"))
    )
    return slope_one_eval(ratings, "u", "i", "r")


# ──────────────────────────────────────────────────────────────────────────
# wave117: method agreement — Lin's CCC + Bland-Altman
# ──────────────────────────────────────────────────────────────────────────
from ..operators.reconcile import (
    bland_altman,
    bland_altman_sql,
    concordance_ccc,
    concordance_ccc_sql,
)

#: the two revenue pipelines, paired per day: the orders header total
#: vs the lineitem-derived net (price*(1-disc)*(1+tax)), both
#: DECIMAL-exact daily sums -> identical doubles per row
_PAIRED_DAILY_SQL_W117 = """SELECT o.day, o.rev_orders, l.rev_lines FROM (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS rev_orders
      FROM orders GROUP BY 1
    ) o JOIN (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(
                 CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))
                 * (1 + CAST(l_tax AS DECIMAL(4,2)))
               AS DECIMAL(28,6))) AS DOUBLE) AS rev_lines
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1
    ) l ON l.day = o.day"""


def _w117_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o_daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev_orders")
    )
    l_daily = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (1 - F.col("l_discount").cast("decimal(4,2)"))
                    * (1 + F.col("l_tax").cast("decimal(4,2)"))
                ).cast("decimal(28,6)")
            )
            .cast("double")
            .alias("rev_lines")
        )
    )
    return o_daily.join(l_daily, "day")


@_spec(
    "ccc_revenue_pipelines",
    concordance_ccc_sql(_PAIRED_DAILY_SQL_W117, "rev_orders", "rev_lines"),
    "reconciliation op — Lin's concordance correlation between the "
    "two daily revenue pipelines (orders header totals vs lineitem-"
    "derived net): the agreement statistic Pearson is NOT — r "
    "rewards any linear relation (y = 2x + 5 scores 1) while CCC "
    "penalizes scale and location bias, only reaching 1 when the "
    "pipelines actually AGREE. Reports r and the bias-correction "
    "factor C_b = CCC/r separating precision from accuracy; the "
    "single-number companion to row-level "
    "order_total_reconciliation. One exact-moment aggregate over "
    "the paired daily rollup.",
)
def ccc_revenue_pipelines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return concordance_ccc(
        _w117_paired(spark, sf_dir), "rev_orders", "rev_lines"
    )


@_spec(
    "bland_altman_revenue",
    bland_altman_sql(_PAIRED_DAILY_SQL_W117, "rev_orders", "rev_lines"),
    "reconciliation op — Bland-Altman limits of agreement for the "
    "same pipeline pair: systematic bias, bias +- 1.96*SD_d (the "
    "per-day disagreement range to EXPECT), and the observed "
    "fraction outside (~5% under normal differences — a free "
    "normality cross-check). CCC says how much agreement; the "
    "limits say what range of disagreement a single day can show. "
    "Two exact-moment passes, z as a literal.",
)
def bland_altman_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bland_altman(
        _w117_paired(spark, sf_dir), "rev_orders", "rev_lines"
    )


# ──────────────────────────────────────────────────────────────────────────
# wave 124: HBOS anomaly screening
# ──────────────────────────────────────────────────────────────────────────
from ..operators.hbos import hbos_scores, hbos_scores_sql


@_spec(
    "hbos_order_anomalies",
    hbos_scores_sql(
        """SELECT o_orderkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS price_cents,
                  CAST(date_diff('day', DATE '1990-01-01',
                                 CAST(o_orderdate AS DATE)) AS BIGINT)
                    AS day_idx,
                  CAST(substring(o_orderpriority, 1, 1) AS BIGINT)
                    AS prio_code
           FROM orders""",
        "o_orderkey",
        ["price_cents", "day_idx", "prio_code"],
    ),
    "anomaly op — HBOS (histogram-based outlier score, Goldstein-"
    "Dengel): per-feature equal-width histograms over exact-integer "
    "features (price cents, day index, priority code), score = sum "
    "of log(max_density/density) — the linear-time screening pass "
    "before per-record review, two bounded shuffles at ANY corpus "
    "size (B-row bin counts broadcast back into the scan) vs kNN/"
    "iForest per-record neighborhoods. Bin index is pure integer "
    "math (no float boundary can split engines); score is a fixed "
    "closed form on exact integer counts; (score desc, key asc) is a "
    "total order so the top-20 cut is deterministic.",
)
def hbos_order_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    feats = orders.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("price_cents"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1990-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("day_idx"),
        F.substring("o_orderpriority", 1, 1)
        .cast("bigint")
        .alias("prio_code"),
    )
    return hbos_scores(
        feats, "o_orderkey", ["price_cents", "day_idx", "prio_code"]
    )


# ──────────────────────────────────────────────────────────────────────────
# wave 125: item-item cosine CF over order baskets
# ──────────────────────────────────────────────────────────────────────────
from ..operators.recommend import item_cosine_topk, item_cosine_topk_sql


@_spec(
    "item_cosine_copurchase",
    item_cosine_topk_sql(
        "SELECT l_orderkey, l_partkey FROM lineitem",
        "l_orderkey",
        "l_partkey",
    ),
    "recommend op — item-item cosine similarity over binary order-"
    "basket co-occurrence (the Amazon item-item CF similarity, "
    "Linden/Smith/York): cos(i,j) = c_ij/sqrt(n_i·n_j) from exact "
    "integer counts, one IEEE sqrt per surviving pair. The implicit-"
    "feedback complement to slope_one_rating_eval (rating deviations) "
    "and copurchase_association_rules (asymmetric confidence/lift). "
    "Pair stage = basket-keyed self-join bounded by order sparsity "
    "(<= 7 lines/order); item marginals broadcast; (cosine desc, ids) "
    "is a total order so the global top-20 cut is deterministic.",
)
def item_cosine_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return item_cosine_topk(
        li.select("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey"
    )


# ──────────────────────────────────────────────────────────────────────────
# wave 127: skip-gram sequential patterns over the event stream
# ──────────────────────────────────────────────────────────────────────────
from ..operators.markov import skipgram_patterns, skipgram_patterns_sql


@_spec(
    "skipgram_event_patterns",
    skipgram_patterns_sql(
        "SELECT event_id, user_id, event_type, ts FROM events"
    ),
    "sequence op — gap-bounded skip-gram patterns 'a THEN b within "
    "the next 5 events' per user stream: the PrefixSpan length-2 cut "
    "that adjacent-transition ops (transition_entropy, markov mix) "
    "cannot see ('view ... later purchase' with interleaved clicks). "
    "Support/confidence/lift from exact integer counts; one user-"
    "keyed shuffle; the window materializes <= gap successor types "
    "per event so pair rows are gap x events at any corpus size; "
    "(support desc, a, b) totally orders the top-20 cut. Tie-safe: "
    "the event order is (ts, event_id), a total order in both "
    "engines.",
)
def skipgram_event_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return skipgram_patterns(
        ev.select("event_id", "user_id", "event_type", "ts")
    )


# ──────────────────────────────────────────────────────────────────────────
# wave 132: difference-in-differences on the event stream
# ──────────────────────────────────────────────────────────────────────────
from ..operators.causal import diff_in_diff, diff_in_diff_sql


@_spec(
    "did_event_value",
    diff_in_diff_sql(
        """SELECT user_id % 2 = 0 AS grp,
                  ts >= TIMESTAMP '2024-02-15 00:00:00' AS post,
                  value AS v
           FROM events""",
        "grp",
        "post",
        "v",
    ),
    "causal op — two-period difference-in-differences on per-event "
    "value (treated = even user ids, post = after 2024-02-15): "
    "D = (T_post - T_pre) - (C_post - C_pre) cancels time-invariant "
    "group differences AND group-invariant time shocks — the quasi-"
    "experimental estimator the causal family (cem_att matching, "
    "ipw_ate weighting) lacked; equals the OLS group*post interaction "
    "coefficient. Values enter as exact DECIMAL so the four cell "
    "sum-triples are order-independent (wave-118 discipline); ONE "
    "aggregate over the fact table, Welch SE from the cell variances, "
    "pre_gap reported as the parallel-trends diagnostic.",
)
def did_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2 == 0).alias("grp"),
        (
            F.col("ts")
            >= F.lit("2024-02-15 00:00:00").cast("timestamp")
        ).alias("post"),
        F.col("value").alias("v"),
    )
    return diff_in_diff(ev, "grp", "post", "v")


# ──────────────────────────────────────────────────────────────────────────
# wave 133: ICC + Kish design effect for user-clustered events
# ──────────────────────────────────────────────────────────────────────────
from ..operators.survey import icc_design_effect, icc_design_effect_sql


@_spec(
    "icc_design_effect_users",
    icc_design_effect_sql(
        "SELECT user_id, value FROM events", "user_id", "value"
    ),
    "experimentation op — one-way ANOVA intraclass correlation ICC(1) "
    "of event values within users plus the Kish design effect "
    "deff = 1 + (m-1)*ICC and the effective sample size n/deff: a "
    "user-level randomization analyzed at the event level overstates "
    "n by deff, the single most common A/B-testing variance mistake. "
    "Per-cluster sums are exact DECIMAL; the across-cluster rational "
    "sum stays an unordered double ON PURPOSE (clusters grow with the "
    "corpus — a sorted fold would be a driver-side scale-killer) and "
    "feeds only O(1) ROUND targets. Two aggregates, O(rows) then "
    "O(users).",
)
def icc_design_effect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return icc_design_effect(
        ev.select("user_id", "value"), "user_id", "value"
    )


# ──────────────────────────────────────────────────────────────────────────
# wave 144: skyline (Pareto-front) supplier query
# ──────────────────────────────────────────────────────────────────────────
from ..operators.skyline import skyline, skyline_sql


@_spec(
    "skyline_suppliers",
    skyline_sql(
        """SELECT l_suppkey AS suppkey,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(4,2))) * -10000
                           ) AS BIGINT) AS neg_rev_e4,
                  CAST(COUNT(*) AS BIGINT) AS n_lines,
                  CAST(SUM(CAST(l_discount AS DECIMAL(4,2)) * -10000)
                       AS BIGINT) AS neg_disc_bp,
                  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_returns
           FROM lineitem GROUP BY 1""",
        "suppkey",
        [("neg_rev_e4", "n_lines"), ("neg_disc_bp", "n_lines"),
         ("n_returns", "n_lines")],
    ),
    "query op — SKYLINE (Pareto-front, Borzsonyi/Kossmann/Stocker "
    "ICDE'01) over per-supplier metrics: the suppliers no other "
    "supplier beats simultaneously on revenue-per-line (maximized via "
    "negated cents), average discount offered (negated basis points), "
    "and return rate — the multi-criteria 'best vendors' question no single "
    "ORDER BY answers, still missing from most engines. Dominance "
    "compares RATIONALS by cross-multiplication over exact integer "
    "totals, so no float boundary can flip membership; the quadratic "
    "stage runs over the supplier rollup (dim-bounded, the "
    "mann_kendall kernel contract).",
)
def skyline_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        # x(-10000): price*(1-disc) carries 4 decimals, so the scaled
        # sum is exactly integral — Spark truncates decimal->bigint
        # while DuckDB rounds, and only an integral value casts the
        # same way in both
        (
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
                * -10000
            )
        )
        .cast("bigint")
        .alias("neg_rev_e4"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("l_discount").cast("decimal(4,2)") * -10000)
        .cast("bigint")
        .alias("neg_disc_bp"),
        F.sum((F.col("l_returnflag") == "R").cast("bigint"))
        .cast("bigint")
        .alias("n_returns"),
    )
    return skyline(
        per,
        "suppkey",
        [("neg_rev_e4", "n_lines"), ("neg_disc_bp", "n_lines"),
         ("n_returns", "n_lines")],
    )


# ──────────────────────────────────────────────────────────────────────────
# wave 149: sharp regression-discontinuity estimator
# ──────────────────────────────────────────────────────────────────────────
from ..operators.causal import rdd_sharp, rdd_sharp_sql


@_spec(
    "rdd_quantity_price_jump",
    rdd_sharp_sql(
        "SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem",
        "x",
        "y",
        cutoff=25.0,
        bandwidth=10.0,
    ),
    "causal op — sharp regression discontinuity of extended price on "
    "the quantity running variable at the 25-unit threshold "
    "(bandwidth 10, uniform kernel, local linear both sides): does "
    "the price-vs-quantity line JUMP at the cutoff, beyond what the "
    "two slopes explain? The observational-jump sibling of "
    "did_event_value — no control group, continuity assumption "
    "instead. All six per-side moments are exact DECIMAL conditional "
    "sums in one banded aggregate; the band filter pushes to the "
    "parquet scan.",
)
def rdd_quantity_price_jump(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    return rdd_sharp(li, "x", "y", cutoff=25.0, bandwidth=10.0)


# ──────────────────────────────────────────────────────────────────────────
# wave 150: just-identified IV / 2SLS on a planted endogenous system
# ──────────────────────────────────────────────────────────────────────────
from ..operators.causal import iv_2sls, iv_2sls_sql

# deterministic endogenous system from o_orderkey (documented fixture,
# the phash planted-near-dup pattern): u = key%5 is the CONFOUNDER
# (enters both x and y), z = key%7 the exogenous instrument, true
# structural effect = 2. OLS is biased upward by the confounder path;
# beta_iv recovers ~2 — the spec's own check of the estimator's point.
_IV_SRC_SQL = """
    SELECT CAST(o_orderkey % 7 AS DECIMAL(18,2)) AS z,
           CAST(o_orderkey % 7 + 2 * (o_orderkey % 5)
                AS DECIMAL(18,2)) AS x,
           CAST(2 * (o_orderkey % 7 + 2 * (o_orderkey % 5))
                + 5 * (o_orderkey % 5) + (o_orderkey % 11)
                AS DECIMAL(18,2)) AS y
    FROM orders
"""


@_spec(
    "iv_planted_order_system",
    iv_2sls_sql(_IV_SRC_SQL.strip(), "y", "x", "z"),
    "causal op — just-identified IV/2SLS on a planted endogenous "
    "system derived deterministically from o_orderkey: confounder "
    "u = key%5 enters both the endogenous x and the outcome y, "
    "instrument z = key%7 enters only x, true structural effect 2. "
    "beta_ols is biased by the confounder path; beta_iv = "
    "Cov(z,y)/Cov(z,x) recovers it, with the first-stage F and the "
    "2SLS-convention t. Completes the observational toolkit beside "
    "did_event_value (parallel trends), rdd_quantity_price_jump "
    "(continuity), cem/ipw (ignorability) — IV needs only instrument "
    "exogeneity. Nine exact DECIMAL moments in one aggregate.",
)
def iv_planted_order_system(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    src = orders.select(
        (k % 7).cast("decimal(18,2)").alias("z"),
        (k % 7 + 2 * (k % 5)).cast("decimal(18,2)").alias("x"),
        (2 * (k % 7 + 2 * (k % 5)) + 5 * (k % 5) + (k % 11))
        .cast("decimal(18,2)")
        .alias("y"),
    )
    return iv_2sls(src, "y", "x", "z")


# ──────────────────────────────────────────────────────────────────────────
# wave 160: k-ary randomized response (local differential privacy)
# ──────────────────────────────────────────────────────────────────────────
from ..operators.privacy import (
    randomized_response_frequency,
    randomized_response_frequency_sql,
)


@_spec(
    "randomized_response_priority",
    randomized_response_frequency_sql(
        "orders", "o_orderkey", "o_orderpriority"
    ),
    "privacy op — k-ary randomized response audit over the five "
    "order priorities at p = 0.75: runs the local-DP mechanism (each "
    "row reports its true category w.p. p, else a uniform draw) AND "
    "the debiasing estimator pi_hat = (q - (1-p)/k)/p side by side "
    "with the true shares — the privacy/utility table a release gate "
    "reads before shipping the channel. Complements "
    "k_anonymity_customers (release-table audit) with the "
    "collection-side mechanism. Derandomized through the repo's "
    "portable md5 uniform so both engines privatize identically and "
    "the oracle checks exact counts; production swaps the hash for "
    "client randomness and keeps the estimator.",
)
def randomized_response_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return randomized_response_frequency(
        orders, "o_orderkey", "o_orderpriority"
    )


# ──────────────────────────────────────────────────────────────────────────
# wave 164: weight-of-evidence / information-value feature audit
# ──────────────────────────────────────────────────────────────────────────
from ..operators.encoding import woe_iv_audit, woe_iv_audit_sql


@_spec(
    "woe_iv_priority_status",
    woe_iv_audit_sql("orders", "o_orderpriority", "o_orderstatus = 'F'"),
    "feature op — Weight-of-Evidence table + Information Value of "
    "order priority for predicting finished status (binary target): "
    "the pre-model univariate feature audit (Siddiqi's credit-"
    "scoring canon — IV < 0.02 useless, > 0.3 strong) and the "
    "leakage-free complement of oof_target_encoding, which BUILDS "
    "the feature this one decides is worth building. Laplace 0.5 on "
    "both cells keeps one-sided categories finite. Exact bigint "
    "cells, k-row closed forms, one TOTAL row carrying the summed "
    "IV.",
)
def woe_iv_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return woe_iv_audit(
        orders, "o_orderpriority", (F.col("o_orderstatus") == "F")
    )


# ──────────────────────────────────────────────────────────────────────────
# wave 165: IPS / SNIPS off-policy evaluation on a planted bandit log
# ──────────────────────────────────────────────────────────────────────────
from ..operators.causal import offpolicy_eval, offpolicy_eval_sql

# deterministic logged-bandit fixture from orders (the iv_planted
# pattern): context bucket b = key%4; the LOGGING policy draws action
# 0/1/2 with propensities (0.5, 0.3, 0.2) via the portable md5
# uniform; reward = 1 exactly when the action equals the context's
# best action (b%3) — so the TARGET policy pi(x) = b%3 is optimal by
# construction and its off-policy value should approach 1.0 where the
# logged behavior value is ~the logging policy's hit rate.
_BANDIT_LOG_SQL = """
    SELECT b,
           CASE WHEN u < 0.5 THEN 0 WHEN u < 0.8 THEN 1 ELSE 2 END
             AS action,
           CASE WHEN u < 0.5 THEN 0.5 WHEN u < 0.8 THEN 0.3 ELSE 0.2 END
             AS prop,
           CASE WHEN (CASE WHEN u < 0.5 THEN 0 WHEN u < 0.8 THEN 1
                           ELSE 2 END) = b % 3 THEN 1 ELSE 0 END
             AS reward,
           b % 3 AS target_action
    FROM (
      SELECT o_orderkey % 4 AS b,
             CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)
                   || ':act'), 1, 15)) AS BIGINT) / 1152921504606846976.0
               AS u
      FROM orders
    )
"""


@_spec(
    "offpolicy_ips_snips",
    offpolicy_eval_sql(
        _BANDIT_LOG_SQL.strip(), "action", "prop", "reward",
        "target_action",
    ),
    "decision op — IPS + SNIPS off-policy value of a target policy "
    "from a planted logged-bandit fixture (logging propensities "
    ".5/.3/.2 via the portable md5 uniform, reward 1 iff the action "
    "matches the context's best arm): the counterfactual 'what would "
    "the new policy have earned on logged traffic' estimator, with "
    "the Kish ESS diagnostic showing how much of the log the target "
    "can see. Target pi = best arm by construction, so v_ips/v_snips "
    "approach 1.0 while v_behavior sits at the logging hit rate — "
    "the gap IS the point. One aggregate of six sums.",
)
def offpolicy_ips_snips(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    u = (
        F.expr(
            "cast(conv(substring(md5(concat(cast(o_orderkey as string),"
            " ':act')), 1, 15), 16, 10) as bigint)"
        )
        / F.lit(float(1 << 60))
    )
    b = F.col("o_orderkey") % 4
    action = (
        F.when(u < 0.5, 0).when(u < 0.8, 1).otherwise(2)
    )
    log = orders.select(
        b.alias("b"),
        action.alias("action"),
        F.when(u < 0.5, 0.5).when(u < 0.8, 0.3).otherwise(0.2).alias(
            "prop"
        ),
        F.when(action == b % 3, 1).otherwise(0).alias("reward"),
        (b % 3).alias("target_action"),
    )
    return offpolicy_eval(log, "action", "prop", "reward", "target_action")


# ──────────────────────────────────────────────────────────────────────────
# wave 168: mediation analysis on a planted causal chain
# ──────────────────────────────────────────────────────────────────────────
from ..operators.causal import mediation_sobel, mediation_sobel_sql

# planted x -> m -> y chain (iv_planted pattern): m = 2x + noise5,
# y = 3m + 1x + noise11 — true a = 2, b = 3, c' = 1, indirect = 6,
# prop_mediated = 6/7
_MEDIATION_SRC_SQL = """
    SELECT CAST(o_orderkey % 7 AS DECIMAL(18,2)) AS x,
           CAST(2 * (o_orderkey % 7) + (o_orderkey % 5)
                AS DECIMAL(18,2)) AS m,
           CAST(3 * (2 * (o_orderkey % 7) + (o_orderkey % 5))
                + (o_orderkey % 7) + (o_orderkey % 11)
                AS DECIMAL(18,2)) AS y
    FROM orders
"""


@_spec(
    "mediation_sobel_planted",
    mediation_sobel_sql(_MEDIATION_SRC_SQL.strip(), "x", "m", "y"),
    "causal op — Baron-Kenny mediation decomposition + Sobel test on "
    "a planted x -> m -> y chain from o_orderkey (true a = 2, b = 3, "
    "direct c' = 1, so indirect = 6 and ~6/7 of the total effect "
    "routes through the mediator): the MECHANISM question the rest "
    "of the causal family leaves open — DiD/RDD/IV estimate THAT x "
    "moves y, this splits the path through m. Two closed-form "
    "regressions (simple + two-regressor normal equations) over ten "
    "exact DECIMAL moments in one aggregate.",
)
def mediation_sobel_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    src = orders.select(
        (k % 7).cast("decimal(18,2)").alias("x"),
        (2 * (k % 7) + (k % 5)).cast("decimal(18,2)").alias("m"),
        (3 * (2 * (k % 7) + (k % 5)) + (k % 7) + (k % 11))
        .cast("decimal(18,2)")
        .alias("y"),
    )
    return mediation_sobel(src, "x", "m", "y")


# ──────────────────────────────────────────────────────────────────────────
# wave 170: doubly-robust OPE on the planted bandit log
# ──────────────────────────────────────────────────────────────────────────
from ..operators.causal import dr_offpolicy_eval, dr_offpolicy_eval_sql

# same planted log as offpolicy_ips_snips, scored with a DELIBERATELY
# biased reward model mu = 0.5 + 0.1*action (the truth is the 0/1
# best-arm indicator): DM inherits the bias, DR's correction removes
# it — the double-robustness property as a spec
_DR_MU_TARGET = "0.5 + 0.1 * target_action"
_DR_MU_LOGGED = "0.5 + 0.1 * action"


@_spec(
    "offpolicy_doubly_robust",
    dr_offpolicy_eval_sql(
        _BANDIT_LOG_SQL.strip(), "action", "prop", "reward",
        "target_action", _DR_MU_TARGET, _DR_MU_LOGGED,
    ),
    "decision op — doubly-robust off-policy value on the SAME "
    "planted bandit log as offpolicy_ips_snips, scored with a "
    "DELIBERATELY biased pinned reward model (mu = .5 + .1*a vs the "
    "0/1 truth): the direct-method value inherits the model's bias "
    "while DR's importance-weighted correction removes it — "
    "consistent if EITHER the model or the propensities are right "
    "(Dudik et al. 2011). The v_dm / v_dr gap in the output IS the "
    "demonstration. One aggregate of five sums.",
)
def offpolicy_doubly_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    u = (
        F.expr(
            "cast(conv(substring(md5(concat(cast(o_orderkey as string),"
            " ':act')), 1, 15), 16, 10) as bigint)"
        )
        / F.lit(float(1 << 60))
    )
    b = F.col("o_orderkey") % 4
    action = F.when(u < 0.5, 0).when(u < 0.8, 1).otherwise(2)
    log = orders.select(
        b.alias("b"),
        action.alias("action"),
        F.when(u < 0.5, 0.5).when(u < 0.8, 0.3).otherwise(0.2).alias(
            "prop"
        ),
        F.when(action == b % 3, 1).otherwise(0).alias("reward"),
        (b % 3).alias("target_action"),
    ).select(
        "*",
        (0.5 + 0.1 * F.col("target_action")).alias("mu_t"),
        (0.5 + 0.1 * F.col("action")).alias("mu_l"),
    )
    return dr_offpolicy_eval(
        log, "action", "prop", "reward", "target_action", "mu_t", "mu_l"
    )


# ──────────────────────────────────────────────────────────────────────────
# wave 171: column encoding advisor
# ──────────────────────────────────────────────────────────────────────────
from ..operators.profiling import encoding_advisor, encoding_advisor_sql

_ENC_COLS = [
    "l_returnflag", "l_linestatus", "l_quantity", "l_tax",
    "l_shipdate",
]


@_spec(
    "encoding_advisor_lineitem",
    encoding_advisor_sql(
        "(SELECT *, l_orderkey * 10 + l_linenumber AS ord FROM lineitem)",
        "ord",
        _ENC_COLS,
    ),
    "storage op — column encoding advisor over five lineitem columns "
    "in (orderkey, linenumber) scan order: per column, exact plain/"
    "dictionary/run-length size estimates (dict codes bit-packed at "
    "ceil(log2 ndv); RLE priced in the PINNED order because run "
    "length is an ordering property — the same column RLEs 100x "
    "differently sorted vs shuffled) and the argmin recommendation "
    "with its compression ratio. The audit every compaction job "
    "answers implicitly; pairs with zorder_pruning_stats (which "
    "prices the read side of layout choices, this prices the "
    "storage side). Pure integer byte math — a fractional byte "
    "would round differently per engine.",
)
def encoding_advisor_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ord", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    return encoding_advisor(li, "ord", _ENC_COLS)


# ──────────────────────────────────────────────────────────────────────────
# wave 175: golden-record survivorship consolidation
# ──────────────────────────────────────────────────────────────────────────
from ..operators.profiling import golden_record, golden_record_sql


@_spec(
    "golden_record_customers",
    golden_record_sql(
        "SELECT * FROM orders",
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        ["o_orderstatus"],
        ["o_orderpriority"],
        ["o_totalprice"],
    ),
    "mdm op — golden-record survivorship over each customer's order "
    "history: the consolidation step AFTER entity resolution (the "
    "CC/linkage family builds clusters; this ships the one surviving "
    "row) with per-attribute rules — last-write-wins for status "
    "under a (date, orderkey) total order, modal priority under "
    "(count desc, value asc), max for totalprice — plus lineage "
    "(n_records, priority ndv) because a golden record without "
    "provenance is un-audit-able. Single-aggregate max-of-struct for "
    "the recency rules (no window, no self-join); one value rollup "
    "per moded attribute.",
)
def golden_record_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return golden_record(
        orders,
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        ["o_orderstatus"],
        ["o_orderpriority"],
        ["o_totalprice"],
    )
