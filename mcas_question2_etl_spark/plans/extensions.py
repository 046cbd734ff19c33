"""Relational extensions beyond the reference's surface — operators the
reference never needed but a user scaling it up reaches for immediately
(SURVEY §2.4/§2.8 'not present, free in Spark' notes): rollup,
semi/anti joins, HAVING, lag/lead windows, and the as-of join.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import aggregates
from ..operators.asof import asof_join
from ..registry import QuerySpec, spec_decorator

SPECS: list[QuerySpec] = []


_spec = spec_decorator(SPECS)


@_spec(
    "rollup_totals",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice,
           COUNT(*) AS n
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    "extension — ROLLUP hierarchy totals (SURVEY §2.4 'not present' "
    "note); one shuffle, grouping-set expansion map-side",
)
def rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        aggregates.money_sum("o_totalprice").alias("sum_totalprice"),
        F.count(F.lit(1)).alias("n"),
    )


@_spec(
    "join_semi_anti",
    """
    SELECT 'with_orders' AS segment, c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT 'no_orders' AS segment, c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "extension — left-semi / left-anti joins (SURVEY §2.3 'not present' "
    "note); both sides one broadcast/shuffled hash join, no row blowup",
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    semi = cust.join(orders, "c_custkey", "leftsemi").select(
        F.lit("with_orders").alias("segment"), "c_custkey", "c_name"
    )
    anti = cust.join(orders, "c_custkey", "leftanti").select(
        F.lit("no_orders").alias("segment"), "c_custkey", "c_name"
    )
    return semi.unionByName(anti)


@_spec(
    "having_filter",
    """
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
    "extension — HAVING post-aggregate filter (SURVEY §2.4 'not "
    "present' note)",
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            aggregates.money_sum("o_totalprice").alias("sum_totalprice"),
        )
        .filter(F.col("n_orders") >= 15)
    )


@_spec(
    "window_lag_lead",
    """
    SELECT o_orderkey, o_custkey,
           lag(o_totalprice) OVER w AS prev_totalprice,
           lead(o_totalprice) OVER w AS next_totalprice
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "extension — lag/lead order history (SURVEY §2.5 'no lag/lead' "
    "note); one shuffle on the partition key",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_totalprice").over(w).alias("prev_totalprice"),
        F.lead("o_totalprice").over(w).alias("next_totalprice"),
    )


@_spec(
    "asof_join_click_purchase",
    """
    SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           p.event_id AS purchase_event_id,
           p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    "extension — as-of join (operators/asof.py union+window technique "
    "vs DuckDB's native ASOF JOIN): most recent purchase at/before "
    "each click, per user",
)
def asof_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_event_id"),
        F.col("value").alias("purchase_value"),
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_cols=["purchase_event_id", "purchase_value"],
        tiebreak="purchase_event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "purchase_event_id",
        "purchase_value",
    )


@_spec(
    "cube_grouping",
    """
    SELECT GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_priority,
           o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    "extension — CUBE with GROUPING() disambiguators (distinguishes "
    "'subtotal row' from a genuinely NULL group key); one shuffle, "
    "grouping-set expansion map-side",
)
def cube_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        F.count(F.lit(1)).alias("n"),
        aggregates.money_sum("o_totalprice").alias("sum_totalprice"),
    ).select(
        "g_status", "g_priority", "o_orderstatus", "o_orderpriority",
        "n", "sum_totalprice",
    )


@_spec(
    "set_intersect_except",
    """
    SELECT 'both' AS segment, o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
    )
    UNION ALL
    SELECT 'urgent_only' AS segment, o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
    )
    """,
    "extension — INTERSECT / EXCEPT set operators (SURVEY §2.8 'no set "
    "ops' note); both compile to distinct + left-semi/anti hash joins",
)
def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = orders.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    both = urgent.intersect(high).select(
        F.lit("both").alias("segment"), "o_custkey"
    )
    only = urgent.subtract(high).select(
        F.lit("urgent_only").alias("segment"), "o_custkey"
    )
    return both.unionByName(only)


@_spec(
    "group_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS p50_qty,
           quantile_cont(l_quantity, 0.9) AS p90_qty,
           quantile_cont(l_extendedprice, 0.5) AS p50_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "extension — exact interpolated percentiles per group (SURVEY §2.4 "
    "A6 summary() generalized); single hash-agg shuffle. At 100 TB "
    "swap percentile() for percentile_approx (t-digest sketch, "
    "mergeable map-side) — kept exact here for the differential gate",
)
def group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("p50_qty"),
        F.expr("percentile(l_quantity, 0.9)").alias("p90_qty"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50_price"),
    )


@_spec(
    "range_band_join",
    """
    SELECT b.band, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice
    FROM orders o
    JOIN (VALUES ('small', 0.0, 50000.0),
                 ('mid', 50000.0, 150000.0),
                 ('large', 150000.0, 1e18)) b(band, lo, hi)
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
    "extension — range/interval (banded theta) join: fact x tiny band "
    "table, broadcast-nested-loop so the non-equi predicate never "
    "shuffles the fact side",
)
def range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bands = F.broadcast(
        orders.sparkSession.createDataFrame(
            [("small", 0.0, 50000.0), ("mid", 50000.0, 150000.0),
             ("large", 150000.0, 1e18)],
            "band string, lo double, hi double",
        )
    )
    cond = (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi"))
    return (
        orders.join(bands, cond, "inner")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            aggregates.money_sum("o_totalprice").alias("sum_totalprice"),
        )
    )


@_spec(
    "sessionize_events",
    """
    WITH ordered AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS t_us,
             lag(epoch_us(ts)) OVER w AS prev_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL
                       OR t_us - prev_us > 1800 * 1000000
                     THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ),
    sessions AS (
      SELECT *, SUM(new_session) OVER
                  (PARTITION BY user_id ORDER BY t_us, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           MAX(t_us) - MIN(t_us) AS duration_us,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    "extension — gap-based sessionization (30-min inactivity): the "
    "batch twin of streaming session windows. lag + running-sum share "
    "ONE shuffle on user_id (same partitioning), then the per-session "
    "agg is partial-aggregated map-side; micros arithmetic keeps the "
    "gap test integer-exact across engines",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = events.select(
        "user_id",
        "event_id",
        "value",
        F.unix_micros("ts").alias("t_us"),
        F.lag(F.unix_micros("ts")).over(w).alias("prev_us"),
    ).withColumn(
        "new_session",
        F.when(
            F.col("prev_us").isNull()
            | (F.col("t_us") - F.col("prev_us") > 1800 * 1_000_000),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(wrun))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("t_us") - F.min("t_us")).alias("duration_us"),
        aggregates.money_sum("value").alias("sum_value"),
    )


@_spec(
    "skew_salted_agg",
    """
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "extension — salted two-phase aggregation over a 3-distinct-value "
    "(maximally hot) grouping key: phase 1 on (key, salt) spreads each "
    "hot key over 16 reducers, phase 2 combines 16 partials per key. "
    "Oracle is the PLAIN group-by: salting must be semantically "
    "invisible",
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_agg

    lineitem = load_table(spark, sf_dir, "lineitem")
    out = salted_agg(
        lineitem.withColumn(
            "__price_dec", F.col("l_extendedprice").cast("decimal(18,2)")
        ),
        keys=["l_returnflag"],
        aggs={
            "n": ("count", "*"),
            "sum_price": ("sum", "__price_dec"),
            "min_qty": ("min", "l_quantity"),
            "max_qty": ("max", "l_quantity"),
        },
        buckets=16,
    )
    return out.withColumn("sum_price", F.col("sum_price").cast("double"))


@_spec(
    "skew_salted_join",
    """
    SELECT l.l_returnflag, n.n_name, COUNT(*) AS n_items
    FROM lineitem l
    JOIN (SELECT n_nationkey, n_name FROM nation) n
      ON (l.l_suppkey % 25) = n.n_nationkey
    GROUP BY l.l_returnflag, n.n_name
    """,
    "extension — salted join fallback for hot keys when neither "
    "broadcast nor AQE skew-split applies: big side salted by a "
    "deterministic row hash, small side replicated per salt. Oracle is "
    "the PLAIN join: salting must be semantically invisible",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    lineitem = (
        load_table(spark, sf_dir, "lineitem")
        .withColumn("n_nationkey", F.col("l_suppkey") % 25)
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = salted_join(lineitem, nation, on="n_nationkey", buckets=16)
    return joined.groupBy("l_returnflag", "n_name").agg(
        F.count(F.lit(1)).alias("n_items")
    )


@_spec(
    "events_sliding_window",
    """
    WITH e AS (
      SELECT event_type, value, epoch_us(ts) AS t_us FROM events
    ),
    windows AS (
      SELECT event_type, value,
             unnest([(t_us // 1800000000) * 1800000000,
                     (t_us // 1800000000) * 1800000000 - 1800000000]) AS w_us
      FROM e
    )
    SELECT strftime(make_timestamp(w_us), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM windows GROUP BY w_us, event_type
    """,
    "extension — sliding event-time window (1h window / 30min slide), "
    "batch twin of streaming/windows.py sliding_user_activity: each "
    "event lands in exactly window/slide windows; oracle enumerates "
    "the two window starts by integer epoch arithmetic",
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            aggregates.money_sum("value").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@_spec(
    "events_session_window_batch",
    """
    WITH ordered AS (
      SELECT user_id, value, epoch_us(ts) AS t_us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL
                       OR t_us - prev_us >= 1800 * 1000000
                     THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ),
    sessions AS (
      SELECT *, SUM(new_session) OVER
                  (PARTITION BY user_id ORDER BY t_us
                   ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(make_timestamp(MIN(t_us)), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(make_timestamp(MAX(t_us) + 1800 * 1000000),
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sessions GROUP BY user_id, sid
    """,
    "extension — Spark-native session_window() in BATCH mode (the same "
    "expression the streaming path uses), vs an oracle that re-derives "
    "sessions by gap-merge: new session iff gap >= 30min (Spark's "
    "half-open [start, last+gap) semantics); end = last event + gap",
)
def events_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            aggregates.money_sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@_spec(
    "asof_join_forward_next_purchase",
    """
    SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           p.event_id AS next_purchase_event_id,
           p.value AS next_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
    "extension — FORWARD as-of join (pandas merge_asof "
    "direction='forward'): earliest purchase at/after each click, per "
    "user; same one-shuffle union+window plan with the time axis "
    "descending",
)
def asof_join_forward_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("next_purchase_event_id"),
        F.col("value").alias("next_purchase_value"),
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_cols=["next_purchase_event_id", "next_purchase_value"],
        tiebreak="next_purchase_event_id",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "next_purchase_event_id",
        "next_purchase_value",
    )


@_spec(
    "merge_upsert_customers",
    """
    WITH updates AS (
      SELECT c_custkey, c_name, c_nationkey,
             c_acctbal + 100.0 AS c_acctbal, c_mktsegment
      FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    SELECT * FROM (
      SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = c.c_custkey)
      UNION ALL
      SELECT * FROM updates
    ) merged
    """,
    "extension — row-level MERGE upsert (update matched, insert "
    "unmatched), the lakehouse MERGE INTO expressed Spark-first as a "
    "broadcast anti-join on the update keys + union: the snapshot side "
    "is never shuffled",
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import merge_upsert

    customer = load_table(spark, sf_dir, "customer")
    updates = customer.filter(F.col("c_mktsegment") == "BUILDING").withColumn(
        "c_acctbal", F.col("c_acctbal") + 100.0
    )
    return merge_upsert(customer, updates, ["c_custkey"])


@_spec(
    "changelog_latest_state",
    """
    SELECT user_id, event_type, ts, value, event_id
    FROM (
      SELECT user_id, event_type, ts, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) ranked
    WHERE rn = 1
    """,
    "extension — changelog compaction to last-writer-wins state (the "
    "read side of upsert): one shuffle on the key, WindowGroupLimit "
    "keeps one candidate per key per map task before the exchange",
)
def changelog_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import latest_by_key

    events = load_table(spark, sf_dir, "events")
    return latest_by_key(
        events, ["user_id", "event_type"], "ts", "event_id"
    ).select("user_id", "event_type", "ts", "value", "event_id")


@_spec(
    "hll_distinct_users_accuracy",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS hll_within_5pct
    FROM events GROUP BY event_type
    """,
    "extension — DataSketches HLL approximate distinct (the 100 TB "
    "COUNT DISTINCT answer: fixed-size map-side sketch buffers cross "
    "the shuffle instead of raw keys). The oracle checks the accuracy "
    "CONTRACT — estimate within 5% of DuckDB's exact distinct — since "
    "HLL internals differ across engines",
)
def hll_distinct_users_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("user_id"), F.lit(14))
        ).alias("__est"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("__est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("hll_within_5pct"),
    )


@_spec(
    "hll_sketch_rollup",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS merge_within_5pct
    FROM events GROUP BY event_type
    """,
    "extension — mergeable-sketch rollup: per-(event_type, day) HLL "
    "sketches unioned up to event_type without rescanning raw data "
    "(the materialize-once / roll-up-anywhere OLAP pattern); oracle "
    "checks the merged estimate keeps the 5% accuracy contract",
)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import hll_rollup, hll_sketch_table

    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    fine = hll_sketch_table(events, ["event_type", "day"], "user_id")
    merged = hll_rollup(fine, ["event_type"])
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("merge_within_5pct"),
    )


@_spec(
    "heavy_hitters_users",
    """
    SELECT user_id, COUNT(*) AS cnt
    FROM events GROUP BY user_id
    HAVING COUNT(*) > 0.008 * (SELECT COUNT(*) FROM events)
    """,
    "extension — exact frequent-items via single-pass sketch "
    "candidates (freqItems, no-false-negative guarantee, <=1/support "
    "candidates) + exact verify count over the broadcast candidate "
    "set; the full-key shuffle a naive GROUP BY HAVING needs never "
    "happens",
)
def heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import heavy_hitters

    events = load_table(spark, sf_dir, "events")
    return heavy_hitters(events, "user_id", support=0.008)


@_spec(
    "approx_percentile_accuracy",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS exact_p50,
           TRUE AS approx_within_1
    FROM lineitem GROUP BY l_returnflag
    """,
    "extension — sketch-based quantiles (approx_percentile, bounded "
    "memory per group vs exact percentile's full sort buffer); oracle "
    "checks the accuracy contract: approximate median within 1.0 of "
    "DuckDB's exact interpolated median",
)
def approx_percentile_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    agg = lineitem.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("exact_p50"),
        F.expr("approx_percentile(l_quantity, 0.5, 10000)").alias("__approx"),
    )
    return agg.select(
        "l_returnflag",
        "exact_p50",
        (F.abs(F.col("__approx") - F.col("exact_p50")) <= F.lit(1.0)).alias(
            "approx_within_1"
        ),
    )


@_spec(
    "window_rank_family",
    """
    SELECT c_custkey, c_nationkey,
           CAST(rank()       OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           percent_rank()    OVER w AS pct_rnk,
           cume_dist()       OVER w AS cume,
           CAST(ntile(4)     OVER w AS BIGINT) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal DESC, c_custkey)
    """,
    "extension — the full SQL ranking family (rank / dense_rank / "
    "percent_rank / cume_dist / ntile) per nation by account balance; "
    "one shuffle on the partition key, total order made deterministic "
    "by the c_custkey tiebreak. percent_rank's (rank-1)/(n-1) and "
    "cume_dist's counting are exact integer-derived doubles, so the "
    "cross-engine hash is stable",
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.percent_rank().over(w).alias("pct_rnk"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@_spec(
    "fuzzy_match_names",
    """
    WITH probes AS (
      SELECT c_custkey, c_name FROM customer WHERE c_custkey % 97 = 0
    ),
    scored AS (
      SELECT p.c_custkey, p.c_name, s.s_suppkey, s.s_name,
             CAST(levenshtein(p.c_name, s.s_name) AS BIGINT) AS dist
      FROM probes p CROSS JOIN supplier s
    )
    SELECT c_custkey, c_name, s_suppkey, s_name, dist
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                    ORDER BY dist, s_suppkey) AS rn
          FROM scored)
    WHERE rn = 1
    """,
    "extension — ENTITY RESOLUTION kernel: nearest supplier name per "
    "probe customer by Levenshtein edit distance (identical DP in "
    "Spark and DuckDB, so exact-hash checkable). The probe side is a "
    "deterministic sample and the name table broadcasts, making the "
    "verification kernel bounded; the scale path for full-corpus "
    "fuzzy joins is blocking (sorted-neighborhood or LSH on name "
    "n-grams, operators/dedup.py) before any pairwise distance",
)
def fuzzy_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    probes = cust.filter(F.col("c_custkey") % 97 == 0).select("c_custkey", "c_name")
    scored = probes.crossJoin(
        F.broadcast(supp.select("s_suppkey", "s_name"))
    ).select(
        "c_custkey",
        "c_name",
        "s_suppkey",
        "s_name",
        F.levenshtein("c_name", "s_name").cast("long").alias("dist"),
    )
    w = Window.partitionBy("c_custkey").orderBy("dist", "s_suppkey")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@_spec(
    "sorted_neighborhood_pairs",
    """
    WITH b AS (
      SELECT c_custkey, c_name, substring(c_name, 1, 15) AS blk
      FROM customer
    ),
    n AS (
      SELECT c_custkey AS a_key, c_name AS a_name,
             lead(c_custkey, 1) OVER w AS k1, lead(c_name, 1) OVER w AS n1,
             lead(c_custkey, 2) OVER w AS k2, lead(c_name, 2) OVER w AS n2,
             lead(c_custkey, 3) OVER w AS k3, lead(c_name, 3) OVER w AS n3
      FROM b
      WINDOW w AS (PARTITION BY blk ORDER BY c_name, c_custkey)
    ),
    pairs AS (
      SELECT a_key, a_name, k1 AS b_key, n1 AS b_name FROM n WHERE n1 IS NOT NULL
      UNION ALL
      SELECT a_key, a_name, k2, n2 FROM n WHERE n2 IS NOT NULL
      UNION ALL
      SELECT a_key, a_name, k3, n3 FROM n WHERE n3 IS NOT NULL
    )
    SELECT a_key, a_name, b_key, b_name,
           CAST(levenshtein(a_name, b_name) AS BIGINT) AS dist
    FROM pairs
    WHERE levenshtein(a_name, b_name) <= 1
    """,
    "extension — BLOCKED SORTED-NEIGHBORHOOD entity resolution "
    "(Hernandez & Stolfo 1995), the scale path the fuzzy_match_names "
    "kernel documents: records sort WITHIN coarse blocking-key "
    "partitions and each row compares only to its next w=3 neighbors "
    "via lead(), so candidate generation is O(n*w) with zero global "
    "sort and zero cross-partition traffic — the window shuffle is on "
    "the block key, embarrassingly parallel. Edit-distance verify "
    "runs only on neighbor pairs",
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    b = cust.select(
        "c_custkey", "c_name", F.substring("c_name", 1, 15).alias("blk")
    )
    w = Window.partitionBy("blk").orderBy("c_name", "c_custkey")
    cols = []
    for k in (1, 2, 3):
        cols += [
            F.lead("c_custkey", k).over(w).alias(f"k{k}"),
            F.lead("c_name", k).over(w).alias(f"n{k}"),
        ]
    n = b.select(
        F.col("c_custkey").alias("a_key"), F.col("c_name").alias("a_name"), *cols
    )
    pairs = n.select(
        "a_key",
        "a_name",
        F.expr("stack(3, k1, n1, k2, n2, k3, n3) AS (b_key, b_name)"),
    ).filter(F.col("b_name").isNotNull())
    return pairs.select(
        "a_key",
        "a_name",
        "b_key",
        "b_name",
        F.levenshtein("a_name", "b_name").cast("long").alias("dist"),
    ).filter(F.col("dist") <= 1)


@_spec(
    "snapshot_diff_orders",
    """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             o_totalprice
      FROM orders WHERE o_orderkey % 11 <> 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_orderstatus = n.o_orderstatus
                     AND o.o_totalprice = n.o_totalprice THEN 'unchanged'
                ELSE 'changed' END AS diff_status
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    ORDER BY o_orderkey
    """,
    "lakehouse versioning: keyed snapshot diff (added/removed/changed/"
    "unchanged) via operators/versioning.py:snapshot_diff — the sides "
    "are projected to (key, value-hash) before the full-outer join so "
    "the shuffle moves fixed-width hashes, never row bodies. Extends "
    "the reference's replace-only versioning "
    "(school_outcomes_etl.py:149) with an audit primitive",
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.versioning import snapshot_diff

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 7 != 0)
    new = orders.filter(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    return snapshot_diff(old, new, keys=["o_orderkey"]).orderBy("o_orderkey")


@_spec(
    "scd2_event_type_history",
    """
    WITH w AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events
    ),
    c AS (SELECT * FROM w WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, event_type,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             AS is_current
    FROM c ORDER BY user_id, valid_from
    """,
    "lakehouse versioning: SCD type-2 compaction of a changelog into "
    "validity intervals via operators/versioning.py:scd2_intervals — "
    "one shuffle on the entity key, both window passes share a single "
    "sort. History-preserving alternative to the reference's full "
    "replace (school_outcomes_etl.py:149)",
)
def scd2_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.versioning import scd2_intervals

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    hist = scd2_intervals(
        events,
        keys=["user_id"],
        order_col="ts",
        attr_cols=["event_type"],
        tiebreak="event_id",
    )
    return hist.select(
        "user_id", "event_type", "valid_from", "valid_to", "is_current"
    ).orderBy("user_id", "valid_from")


@_spec(
    "funnel_conversion",
    """
    WITH s0 AS (
      SELECT user_id, MIN(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    s1 AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t
      WHERE e.event_type = 'click' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
      WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT * FROM (
      SELECT 0 AS stage_idx, 'view' AS stage,
             CAST(COUNT(*) AS BIGINT) AS n_users FROM s0
      UNION ALL
      SELECT 1, 'view>click', CAST(COUNT(*) AS BIGINT) FROM s1
      UNION ALL
      SELECT 2, 'view>click>purchase', CAST(COUNT(*) AS BIGINT) FROM s2
    ) ORDER BY stage_idx
    """,
    "product-analytics extension: ordered funnel conversion (view -> "
    "click -> purchase, each step strictly after the previous per "
    "user). Each stage is one min-aggregate (partial-agg friendly) "
    "plus a key-join of per-user timestamps — the joins move one row "
    "per user, never raw events, so at 100 TB the funnel costs three "
    "narrow user-keyed shuffles",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_after(step: str, prev: DataFrame | None) -> DataFrame:
        e = ev.filter(F.col("event_type") == step)
        if prev is not None:
            e = e.join(prev, "user_id").filter(F.col("ts") > F.col("t")).drop("t")
        return e.groupBy("user_id").agg(F.min("ts").alias("t"))

    s0 = first_after("view", None)
    s1 = first_after("click", s0)
    s2 = first_after("purchase", s1)
    stages = [(0, "view", s0), (1, "view>click", s1), (2, "view>click>purchase", s2)]
    counts = [
        s.agg(
            F.lit(i).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        )
        for i, name, s in stages
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionAll(c)
    return out.orderBy("stage_idx")


@_spec(
    "robust_outliers_iqr",
    """
    WITH r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    q AS (
      SELECT event_type,
             MAX(CASE WHEN rn = 1 + CAST(FLOOR((n - 1) * 0.25) AS BIGINT)
                      THEN value END) AS q1,
             MAX(CASE WHEN rn = 1 + CAST(FLOOR((n - 1) * 0.75) AS BIGINT)
                      THEN value END) AS q3
      FROM r GROUP BY 1
    )
    SELECT r.event_type, q.q1, q.q3,
           CAST(SUM(CASE WHEN r.value < q.q1 - 1.5 * (q.q3 - q.q1)
                           OR r.value > q.q3 + 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM r JOIN q ON r.event_type = q.event_type
    GROUP BY 1, 2, 3 ORDER BY 1
    """,
    "robust-statistics extension: per-group IQR outlier detection with "
    "index-picked quartiles (element at floor((n-1)*q) in the total "
    "order — no float interpolation, so the quartiles are bit-identical "
    "on any engine). One shuffle for the per-group sort; the quartile "
    "table is tiny and broadcast back onto the rows",
)
def robust_outliers_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "ts", "event_id"
    )
    w = Window.partitionBy("event_type").orderBy("value", "ts", "event_id")
    wc = Window.partitionBy("event_type")
    r = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    q1_idx = 1 + F.floor((F.col("n") - 1) * 0.25)
    q3_idx = 1 + F.floor((F.col("n") - 1) * 0.75)
    q = r.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == q1_idx, F.col("value"))).alias("q1"),
        F.max(F.when(F.col("rn") == q3_idx, F.col("value"))).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    out = (
        r.join(F.broadcast(q), "event_type")
        .withColumn(
            "__is_out",
            (F.col("value") < F.col("q1") - 1.5 * iqr)
            | (F.col("value") > F.col("q3") + 1.5 * iqr),
        )
        .groupBy("event_type", "q1", "q3")
        .agg(F.sum(F.col("__is_out").cast("int")).cast("long").alias("n_outliers"))
    )
    return out.orderBy("event_type")


@_spec(
    "scd2_point_in_time_join",
    """
    WITH ch AS (
      SELECT user_id, ts, event_id,
             CAST(FLOOR(value / 100) AS BIGINT) AS state
      FROM events WHERE event_type = 'signup'
    ),
    w AS (
      SELECT user_id, ts, state,
             lag(state) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM ch
    ),
    dim AS (
      SELECT user_id, ts AS valid_from, state FROM w
      WHERE prev IS NULL OR prev <> state
    ),
    f AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id, f.user_id, f.ts AS purchase_ts, d.state, d.valid_from
    FROM f ASOF LEFT JOIN dim d
      ON f.user_id = d.user_id AND f.ts >= d.valid_from
    ORDER BY f.event_id
    """,
    "lakehouse versioning: point-in-time (temporal) join — each "
    "purchase looks up the signup-derived SCD2 state valid AT its "
    "timestamp. Composes versioning.scd2_intervals with the asof "
    "union+window operator, so the dimension lookup is one shuffle "
    "with no range-join candidate explosion (DuckDB mirrors it with "
    "native ASOF JOIN — an independent algorithm)",
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join
    from ..operators.versioning import scd2_intervals

    ev = load_table(spark, sf_dir, "events")
    ch = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") / 100).cast("long").alias("state"),
    )
    dim = scd2_intervals(
        ch, keys=["user_id"], order_col="ts", attr_cols=["state"],
        tiebreak="event_id",
    ).select("user_id", "valid_from", "state")
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = asof_join(
        facts,
        dim,
        on="user_id",
        left_time="ts",
        right_time="valid_from",
        right_cols=["state", "valid_from"],
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "state",
        "valid_from",
    ).orderBy("event_id")


@_spec(
    "event_transition_matrix",
    """
    WITH w AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT prev AS from_type, event_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY prev) AS DOUBLE)
             AS p_transition
    FROM w WHERE prev IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "product-analytics extension: first-order Markov transition matrix "
    "over per-user event sequences — lag per user (one key-partitioned "
    "sort), then a tiny (types x types) aggregation whose row-"
    "normalization is a window over the aggregate, not the events",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy(
            F.col("prev").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    wrow = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.col("n_transitions")
            / F.sum("n_transitions").over(wrow).cast("double")
        ).alias("p_transition"),
    ).orderBy("from_type", "to_type")


@_spec(
    "bitmap_distinct_rollup",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "extension — EXACT mergeable distinct via bitmap aggregates "
    "(bitmap_construct_agg / bitmap_or_agg, the ClickHouse/Druid "
    "bitmap-index pattern): per-(event_type, day) bitmaps OR-merged up "
    "to event_type. Unlike the HLL specs this rollup is exact, so the "
    "oracle compares values directly, not an accuracy contract",
)
def bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import bitmap_distinct_table, bitmap_rollup

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    fine = bitmap_distinct_table(ev, ["event_type", "day"], "user_id")
    return bitmap_rollup(fine, ["event_type"]).orderBy("event_type")


@_spec(
    "theta_overlap_segments",
    """
    SELECT 'view' AS seg_a, 'purchase' AS seg_b,
           CAST(COUNT(DISTINCT CASE WHEN event_type = 'view'
                                    THEN user_id END) AS BIGINT) AS exact_a,
           CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                    THEN user_id END) AS BIGINT) AS exact_b,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_union,
           CAST(COUNT(DISTINCT CASE WHEN event_type = 'view'
                                    THEN user_id END)
              + COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                    THEN user_id END)
              - COUNT(DISTINCT user_id) AS BIGINT) AS exact_intersect,
           TRUE AS theta_within_2pct
    FROM events WHERE event_type IN ('view', 'purchase')
    """,
    "extension — Theta-sketch audience overlap (union AND intersection "
    "— the set algebra HLL cannot do, Druid's ad-tech standard). One "
    "scan builds both segment sketches map-side; the oracle carries "
    "the exact inclusion-exclusion counts plus the accuracy contract "
    "(every estimate within 2% or 2 absolute of exact)",
)
def theta_overlap_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import theta_segment_overlap

    ev = load_table(spark, sf_dir, "events")
    both = ev.filter(F.col("event_type").isin(["view", "purchase"]))
    exact = both.groupBy().agg(
        F.countDistinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("exact_a"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("exact_b"),
        F.countDistinct("user_id").alias("exact_union"),
    )
    est = theta_segment_overlap(ev, "event_type", "user_id", "view", "purchase")

    def ok(est_c: str, exact_c: str):
        return F.abs(F.col(est_c) - F.col(exact_c)) <= F.greatest(
            0.02 * F.col(exact_c), F.lit(2.0)
        )

    return (
        est.crossJoin(F.broadcast(exact))
        .withColumn(
            "exact_intersect",
            (
                F.col("exact_a") + F.col("exact_b") - F.col("exact_union")
            ).cast("bigint"),
        )
        .select(
            "seg_a",
            "seg_b",
            "exact_a",
            "exact_b",
            "exact_union",
            "exact_intersect",
            (
                ok("est_a", "exact_a")
                & ok("est_b", "exact_b")
                & ok("est_union", "exact_union")
                & ok("est_intersect", "exact_intersect")
            ).alias("theta_within_2pct"),
        )
    )


@_spec(
    "kll_quantiles_accuracy",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS q50_rank_ok,
           TRUE AS q95_rank_ok
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "extension — mergeable KLL quantile sketches: per-(event_type, "
    "day) KLL(200) sketches merged up to event_type, then the merged "
    "p50/p95 estimates are rank-VERIFIED against the raw data (exact "
    "rank of the estimate within 3 rank-points of target — the "
    "DataSketches error bound is on rank, not value, so that is the "
    "honest contract to check). Two shuffles + one broadcast-back",
)
def kll_quantiles_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kll_quantile_rollup, kll_quantile_table

    ev = load_table(spark, sf_dir, "events")
    fine = kll_quantile_table(
        ev.withColumn("day", F.to_date("ts")), ["event_type", "day"], "value"
    )
    qs = kll_quantile_rollup(fine, ["event_type"], [0.5, 0.95])
    joined = ev.join(F.broadcast(qs), "event_type")
    ranks = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.avg((F.col("value") <= F.col("q_50")).cast("double")).alias("__r50"),
        F.avg((F.col("value") <= F.col("q_95")).cast("double")).alias("__r95"),
    )
    return ranks.select(
        "event_type",
        "n_rows",
        (F.abs(F.col("__r50") - 0.5) <= F.lit(0.03)).alias("q50_rank_ok"),
        (F.abs(F.col("__r95") - 0.95) <= F.lit(0.03)).alias("q95_rank_ok"),
    ).orderBy("event_type")


@_spec(
    "histogram_extendedprice",
    aggregates.equiwidth_histogram_sql(
        "l_extendedprice", 0.0, 120000.0, 24, "lineitem"
    ),
    "extension — equi-width histogram (24 buckets over "
    "l_extendedprice): the scan-stage distribution profile; bucket "
    "arithmetic is ONE explicit floor-divide identical in both engines "
    "(width_bucket builtins avoided — their internal rounding is "
    "unspecified). One tiny shuffle, map-side combine",
)
def histogram_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return aggregates.equiwidth_histogram(
        lineitem, "l_extendedprice", 0.0, 120000.0, 24
    )


_PR_EDGES_SQL = """
      SELECT c AS src, s AS dst FROM (
        SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      )
      UNION ALL
      SELECT s, c FROM (
        SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      )
"""


def _pagerank_oracle() -> str:
    from ..operators.pagerank import pagerank_sql_ctes

    return (
        pagerank_sql_ctes(_PR_EDGES_SQL, iters=2)
        + "\n    SELECT node, rank FROM pr ORDER BY rank DESC, node LIMIT 20"
    )


@_spec(
    "pagerank_customer_supplier",
    _pagerank_oracle(),
    "extension — deterministic integer PageRank (operators/pagerank.py)"
    " over the symmetrized customer-supplier purchase graph, 2 damped "
    "rounds, top-20 nodes. The iterative-graph twin of connected "
    "components: per-round cost is one fixed-width (dst, share) "
    "shuffle + map-side-combined aggregate; Q30 integer mass makes "
    "ranks bit-reproducible and the oracle exact, not a contract",
)
def pagerank_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pagerank import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionAll(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    pr = pagerank(edges, iters=2)
    return pr.orderBy(F.col("rank").desc(), "node").limit(20)


@_spec(
    "cohort_retention_matrix",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events
      GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             datediff('day', f.cohort_day, CAST(e.ts AS DATE)) // 7
               AS week_offset
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT cohort_day, CAST(week_offset AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active_users
    FROM activity GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "product-analytics extension: cohort retention matrix — users "
    "bucketed by first-seen day, distinct-user activity counted per "
    "week offset. Two shuffles (per-user min, then the matrix agg on "
    "a distinct'd fixed-width (user, cohort, offset) set); the "
    "first-seen side is per-user-tiny and co-keyed with the probe",
)
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.expr("datediff(day, cohort_day) div 7").alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_day", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("cohort_day", "week_offset")
    )


# ──────────────────────────────────────────────────────────────────────────
# wave68
# ──────────────────────────────────────────────────────────────────────────
from ..operators.sketches import ams_f2_accuracy_sql as _ams_sql


@_spec(
    "ams_f2_user_frequency",
    _ams_sql("events", "user_id"),
    "sketch op — AMS second-frequency-moment estimate of the events "
    "user-activity distribution with a median-of-means accuracy "
    "check vs exact F2 = sum c^2 (the self-join-size / skew "
    "estimator). Estimator signs are portable md5 integers, so the "
    "whole construction is INTEGER-exact (division by 8 exact in "
    "binary) and the oracle hash-matches values, not tolerances. "
    "Corpus reduces once to (user, count); sketch stage is a "
    "16-fold explode of that aggregate.",
)
def ams_f2_user_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import ams_f2_accuracy

    ev = load_table(spark, sf_dir, "events")
    return ams_f2_accuracy(ev, "user_id")


# ──────────────────────────────────────────────────────────────────────────
# wave 157: DDSketch relative-error quantiles
# ──────────────────────────────────────────────────────────────────────────
from ..operators.sketches import (
    ddsketch_quantiles,
    ddsketch_quantiles_sql,
)


@_spec(
    "ddsketch_price_quantiles",
    ddsketch_quantiles_sql(
        "SELECT l_returnflag AS flag, l_extendedprice AS price"
        " FROM lineitem",
        "flag",
        "price",
    ),
    "sketch op — DDSketch p50/p90/p99 of extended price per return "
    "flag at alpha = 1%: the RELATIVE-error quantile sketch beside "
    "kll_quantiles_accuracy's rank-error guarantee ('p99 within 1% "
    "of its value' is the latency/price-tail contract). The sketch "
    "IS a (log-boundary bucket, count) table — mergeable by "
    "addition, partition-order free, and exactly reproducible in "
    "any engine (ceil/log bucket + integer cumulative ranks), which "
    "is why this oracle checks it EXACTLY rather than within "
    "tolerance. One map-side-combined bucket rollup, one bounded "
    "bucket-table window, never a raw-row sort.",
)
def ddsketch_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    src = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
    )
    return ddsketch_quantiles(src, "flag", "price")
