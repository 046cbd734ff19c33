"""Time-series specs (rollups, trends, seasonality, changepoints).

Consolidated from the round-1..3 wave modules (round 4, VERDICT r3
#7): spec names, oracles and bodies are unchanged (module-private
helpers colliding across waves carry a _w<N> suffix). Constituent
waves and their original one-line scopes:

#   wave7: Wave-7 extension specs: time-aware feature engineering and
#   wave10: Wave-10 extension spec: interval concurrency via a DISTRIBUTED
#   wave14: Wave-14 extension specs: hypertable rollup chain, binned interval
#   wave24: Wave-24 extension spec: interval coalescing (interval union) —
#   wave35: Wave-35 extension specs: Theil-Sen robust trend (median of pairwise
#   wave49: Wave-49 extension specs: Kruskal-Wallis, Mann-Kendall trend test,
#   wave50: Wave-50 extension specs: Pettitt changepoint, BH-FDR over per-type
#   wave52: Wave-52 extension specs: QQ quantile comparison, volume drawdown,
#   wave63: Wave-63 extension specs: product-quantization ANN, SPRT sequential
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..catalog import load_table
from ..operators import ranking as _rank
from ..operators.aggregates import money_sum, oracle_money_sum
from ..operators.ranking import with_running_sum
from ..operators import bootstrap, intervals, similarity, text, timeseries
from pyspark.sql import DataFrame, SparkSession
from ..operators.intervals import coalesce_intervals
from ..operators import evaluation, regression, text, timeseries
from ..operators import evaluation, timeseries
from ..operators import entropy, profiling, timeseries
import math
from ..operators import pq
from ..operators.ranking import with_global_row_number, with_running_sum

from ..registry import QuerySpec, spec_decorator

SPECS: list[QuerySpec] = []


_spec = spec_decorator(SPECS)


# ──────────────────────────────────────────────────────────────────────────
# wave7
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "rolling_7d_user_value",
    """
    WITH per_day AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
               AS epoch_day,
             SUM(value) AS day_value,
             CAST(COUNT(*) AS BIGINT) AS day_events
      FROM events GROUP BY 1, 2, 3
    )
    SELECT user_id, day, day_events, day_value,
           SUM(day_value) OVER (
             PARTITION BY user_id ORDER BY epoch_day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS value_7d,
           CAST(SUM(day_events) OVER (
             PARTITION BY user_id ORDER BY epoch_day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS events_7d
    FROM per_day
    """,
    "extension — trailing-window feature engineering: per-user 7-day "
    "rolling value/event totals via a RANGE frame over integer epoch "
    "days (identical frame semantics on both engines; a time-RANGE "
    "frame skips gap days correctly where a ROWS frame would not). "
    "Raw events collapse to per-(user, day) aggregates in the scan "
    "stage group-by; the window then shuffles only those daily rows "
    "on user_id — the standard sessionless feature backfill shape",
)
def rolling_7d_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_day = (
        ev.select(
            "user_id",
            F.to_date("ts").alias("day"),
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("epoch_day"),
            "value",
        )
        .groupBy("user_id", "day", "epoch_day")
        .agg(
            F.sum("value").alias("day_value"),
            F.count(F.lit(1)).alias("day_events"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_day")
        .rangeBetween(-6, Window.currentRow)
    )
    return per_day.select(
        "user_id",
        "day",
        "day_events",
        "day_value",
        F.sum("day_value").over(w).alias("value_7d"),
        F.sum("day_events").over(w).cast("long").alias("events_7d"),
    )


@_spec(
    "daily_active_new_returning",
    """
    WITH user_day AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    first_seen AS (
      SELECT user_id, MIN(day) AS first_day FROM user_day GROUP BY 1
    ),
    daily AS (
      SELECT ud.day,
             CAST(COUNT(*) AS BIGINT) AS n_active,
             CAST(SUM(CASE WHEN ud.day = fs.first_day THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new
      FROM user_day ud JOIN first_seen fs ON ud.user_id = fs.user_id
      GROUP BY 1
    )
    SELECT day, n_active, n_new,
           n_active - n_new AS n_returning,
           CAST(SUM(n_new) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM daily
    """,
    "extension — growth accounting: daily active users split into new "
    "vs returning, plus the cumulative distinct-user curve WITHOUT a "
    "running COUNT(DISTINCT): first-touch attribution (min day per "
    "user, one shuffle on user_id) turns cumulative-distinct into a "
    "running SUM of arrivals over the tiny day axis — the "
    "exact-and-scalable form of the classic growth dashboard query",
)
def daily_active_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    user_day = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    first_seen = user_day.groupBy("user_id").agg(
        F.min("day").alias("first_day")
    )
    daily = (
        user_day.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(
                (F.col("day") == F.col("first_day")).cast("int")
            ).cast("long").alias("n_new"),
        )
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day",
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).alias("n_returning"),
        F.sum("n_new").over(w).cast("long").alias("cum_users"),
    )


@_spec(
    "monthly_revenue_growth",
    f"""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             {oracle_money_sum("o_totalprice")} AS revenue
      FROM orders GROUP BY 1
    ),
    modal AS (
      SELECT month, o_orderpriority AS top_priority FROM (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               o_orderpriority,
               ROW_NUMBER() OVER (
                 PARTITION BY CAST(date_trunc('month', o_orderdate) AS DATE)
                 ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
        FROM orders GROUP BY 1, 2
      ) WHERE rn = 1
    )
    SELECT m.month, m.n_orders, m.revenue,
           m.revenue - lag(m.revenue) OVER (ORDER BY m.month)
             AS revenue_delta,
           (m.revenue - lag(m.revenue) OVER (ORDER BY m.month))
             / lag(m.revenue) OVER (ORDER BY m.month) AS growth_rate,
           md.top_priority
    FROM monthly m JOIN modal md ON m.month = md.month
    """,
    "extension — period-over-period reporting: monthly revenue (exact "
    "DECIMAL money sum — order-independent, engine-identical), "
    "month-over-month delta and growth rate via lag over the tiny "
    "month axis, and the per-month MODAL order priority "
    "(deterministic tie-break by priority label). One scan, one "
    "group-by per branch; every window runs over months, not orders",
)
def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    monthly = orders.select(month, "o_totalprice").groupBy("month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum("o_totalprice").alias("revenue"),
    )
    pr = (
        orders.select(month, "o_orderpriority")
        .groupBy("month", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_pr = Window.partitionBy("month").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority")
    )
    modal = (
        pr.withColumn("rn", F.row_number().over(w_pr))
        .filter(F.col("rn") == 1)
        .select("month", F.col("o_orderpriority").alias("top_priority"))
    )
    w_m = Window.orderBy("month")
    lagged = F.lag("revenue").over(w_m)
    return (
        monthly.join(modal, "month")
        .select(
            "month",
            "n_orders",
            "revenue",
            (F.col("revenue") - lagged).alias("revenue_delta"),
            ((F.col("revenue") - lagged) / lagged).alias("growth_rate"),
            "top_priority",
        )
    )


@_spec(
    "score_calibration_deciles",
    """
    WITH d AS (
      SELECT lang, n_chars,
             CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS INTEGER)
               AS decile
      FROM documents
    )
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_en
    FROM d GROUP BY 1 ORDER BY 1
    """,
    "extension — scorer calibration: the companion to "
    "auc_quality_score. Documents bucketed into score deciles by the "
    "two-phase distributed NTILE (operators/ranking.py — no "
    "single-task window), then per-decile positives and mass as EXACT "
    "integer numerators/denominators (no rounded ratios, no float "
    "cliffs); the calibration curve is n_en/n per decile",
)
def score_calibration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "n_chars", "doc_id"
    )
    bucketed = _rank.with_ntile(
        docs, ["n_chars", "doc_id"], 10, out_col="decile"
    )
    return (
        bucketed.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum((F.col("lang") == "en").cast("int")).cast("long").alias("n_en"),
        )
        .orderBy("decile")
    )


@_spec(
    "anomaly_days_zscore",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT AVG(n) AS mu, stddev_samp(n) AS sigma FROM daily
    )
    SELECT d.day, d.n,
           (d.n - s.mu) / s.sigma AS z,
           ABS(d.n - s.mu) > 2 * s.sigma AS is_anomaly
    FROM daily d CROSS JOIN stats s
    """,
    "extension — volume monitoring: per-day event counts flagged "
    "against the global mean/stddev (|z| > 2). Raw events reduce to "
    "the day axis in one scan-side group-by; the 1-row stats table "
    "broadcast-joins back (BroadcastNestedLoopJoin of a scalar — the "
    "same pattern as zscore_global). z is emitted unrounded: the "
    "gate's 9-sig-digit canonicalization absorbs stddev ULPs",
)
def anomaly_days_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(F.to_date("ts").alias("day")).groupBy("day").agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = daily.agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma")
    )
    return daily.crossJoin(F.broadcast(stats)).select(
        "day",
        "n",
        ((F.col("n") - F.col("mu")) / F.col("sigma")).alias("z"),
        (F.abs(F.col("n") - F.col("mu")) > 2 * F.col("sigma")).alias(
            "is_anomaly"
        ),
    )


# ──────────────────────────────────────────────────────────────────────────
# wave10
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "session_concurrency_peak",
    """
    WITH ordered AS (
      SELECT user_id, event_id, epoch_us(ts) AS t_us,
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
      SELECT user_id,
             CAST(SUM(new_session) OVER
               (PARTITION BY user_id ORDER BY t_us, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id,
             t_us
      FROM flagged
    ),
    intervals AS (
      SELECT user_id, session_id,
             MIN(t_us) AS s_us, MAX(t_us) AS e_us
      FROM sessions GROUP BY 1, 2
    ),
    points AS (
      SELECT user_id, session_id, s_us AS t_us, CAST(1 AS BIGINT) AS delta
      FROM intervals
      UNION ALL
      SELECT user_id, session_id, e_us, -1 FROM intervals
    ),
    swept AS (
      SELECT SUM(delta) OVER (
               ORDER BY t_us, delta DESC, user_id, session_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS live
      FROM points
    )
    SELECT CAST((SELECT COUNT(*) FROM intervals) AS BIGINT) AS n_sessions,
           CAST(MAX(live) AS BIGINT) AS peak_concurrent
    FROM swept
    """,
    "extension — sweep-line interval analytics: peak concurrent "
    "sessions across all users (30-min gap sessionization -> "
    "[start, end] intervals -> +1/-1 endpoint points -> DISTRIBUTED "
    "prefix sum over the time axis via operators/ranking."
    "with_running_sum, the two-phase scan that replaces the "
    "single-task SUM() OVER (ORDER BY) window; starts sort before "
    "ends at equal timestamps so touching intervals count as "
    "concurrent). The oracle is the plain single-window spelling — "
    "same number, different execution shape",
)
def session_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "user_id",
        "event_id",
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
    intervals = (
        flagged.withColumn("session_id", F.sum("new_session").over(wrun))
        .groupBy("user_id", "session_id")
        .agg(F.min("t_us").alias("s_us"), F.max("t_us").alias("e_us"))
        # consumed by the session count AND both point legs, through
        # broadcast joins: eager, so no broadcast thread materializes it
        .localCheckpoint(eager=True)
    )
    points = intervals.select(
        "user_id",
        "session_id",
        F.col("s_us").alias("t_us"),
        F.lit(1).cast("long").alias("delta"),
    ).unionByName(
        intervals.select(
            "user_id",
            "session_id",
            F.col("e_us").alias("t_us"),
            F.lit(-1).cast("long").alias("delta"),
        )
    )
    swept = with_running_sum(
        points,
        [F.col("t_us"), F.col("delta").desc(), F.col("user_id"), F.col("session_id")],
        "delta",
        out_col="live",
    )
    n_sessions = intervals.agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    return n_sessions.crossJoin(
        swept.agg(F.max("live").cast("long").alias("peak_concurrent"))
    )


# ──────────────────────────────────────────────────────────────────────────
# wave14
# ──────────────────────────────────────────────────────────────────────────
_HOUR = 3600
_DAY = 86400


@_spec(
    "time_bucket_rollup_chain",
    f"""
    SELECT event_type,
           CAST(FLOOR(epoch_us(ts) / {_DAY * 1_000_000}::BIGINT)
                * {_DAY * 1_000_000}::BIGINT AS BIGINT) AS bucket_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(user_id) AS BIGINT) AS sum_key,
           CAST(MIN(epoch_us(ts)) AS BIGINT) AS min_us,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_us
    FROM events GROUP BY 1, 2
    """,
    "extension — hypertable/continuous-aggregate rollup chain "
    "(operators/timeseries.py time_bucket_rollup + rollup_coarser): "
    "the DAILY grain is derived from the materialized HOURLY rollup, "
    "never from raw events; the oracle aggregates raw events straight "
    "to daily, so equality proves the chain is lossless. At 100 TB "
    "the raw scan happens once and every coarser grain reduces a "
    "table already shrunk by the bucket width (the TimescaleDB / "
    "Druid ingestion-rollup pattern)",
)
def time_bucket_rollup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = timeseries.time_bucket_rollup(
        events, "ts", ["event_type"], _HOUR, "user_id"
    )
    return timeseries.rollup_coarser(hourly, ["event_type"], _DAY)


_GAP_US = 1800 * 1_000_000
#: 1-hour grid for the overlap join bins (epoch micros)
_BIN_US = 3600 * 1_000_000

_SESSIONS_SQL = f"""
    ordered AS (
      SELECT user_id, event_id, epoch_us(ts) AS t_us,
             lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL OR t_us - prev_us > {_GAP_US}
                     THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ),
    sess AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid,
             t_us
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, CAST(sid AS BIGINT) AS sid,
             MIN(t_us) AS start_us, MAX(t_us) AS end_us
      FROM sess GROUP BY user_id, sid
    )
"""


@_spec(
    "interval_overlap_pairs",
    f"""
    WITH {_SESSIONS_SQL},
    lefts AS (SELECT user_id AS l_user, sid AS l_sid, start_us AS l_start,
                     end_us AS l_end
              FROM sessions WHERE user_id % 2 = 0),
    rights AS (SELECT user_id AS r_user, sid AS r_sid, start_us AS r_start,
                      end_us AS r_end
               FROM sessions WHERE user_id % 2 = 1),
    pairs AS (
      SELECT l.l_user, r.r_user
      FROM {intervals.overlap_join_sql('lefts', 'rights', 'l_start', 'l_end',
                                       'r_start', 'r_end')}
    )
    SELECT l_user AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(SUM(r_user) AS BIGINT) AS sum_peer_ids
    FROM pairs GROUP BY 1
    """,
    "extension — interval-overlap JOIN without a cartesian "
    "(operators/intervals.py): concurrent-session pairs between two "
    "large session sets. Both sides explode onto a 1-hour grid and "
    "hash-join on the bin; the canonical-bin filter emits each "
    "overlapping pair exactly once. The oracle is the plain theta "
    "join — equality proves the grid plan complete and duplicate-free. "
    "The theta form is a nested-loop at ANY scale; the binned form is "
    "an equi hash join AQE can balance",
)
def interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        F.unix_micros("ts").alias("t_us"),
        F.lag(F.unix_micros("ts")).over(w).alias("prev_us"),
    ).withColumn(
        "new_session",
        F.when(
            F.col("prev_us").isNull()
            | (F.col("t_us") - F.col("prev_us") > _GAP_US),
            1,
        ).otherwise(0),
    )
    sessions = (
        flagged.withColumn("sid", F.sum("new_session").over(wrun))
        .groupBy("user_id", "sid")
        .agg(F.min("t_us").alias("start_us"), F.max("t_us").alias("end_us"))
    )
    lefts = sessions.filter(F.col("user_id") % 2 == 0).select(
        F.col("user_id").alias("l_user"),
        F.col("start_us").alias("l_start"),
        F.col("end_us").alias("l_end"),
    )
    rights = sessions.filter(F.col("user_id") % 2 == 1).select(
        F.col("user_id").alias("r_user"),
        F.col("start_us").alias("r_start"),
        F.col("end_us").alias("r_end"),
    )
    pairs = intervals.overlap_join(
        lefts, rights, "l_start", "l_end", "r_start", "r_end", _BIN_US
    )
    return pairs.groupBy(F.col("l_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_overlaps"),
        F.sum("r_user").alias("sum_peer_ids"),
    )


@_spec(
    "poisson_bootstrap_ci",
    bootstrap.poisson_bootstrap_means_sql("documents", "doc_id", "n_chars"),
    "extension — one-pass Poisson bootstrap (operators/bootstrap.py, "
    "Chamandy et al. 2012): 32 bootstrap replicates of mean(n_chars) "
    "from ONE scan, per-(row,replica) Poisson(1) weights derived from "
    "the engine-portable md5 hash family. Weighted sums stay BIGINT; "
    "the replica spread IS the sampling distribution, so uncertainty "
    "on a 100 TB aggregate costs Rx map work and an R-row shuffle — "
    "no resampling passes",
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return bootstrap.poisson_bootstrap_means(docs, "doc_id", "n_chars")


@_spec(
    "sq_ann_topk",
    similarity.sq_topk_sql(query_vec_id=7, k=10),
    "extension — scalar-quantized ANN (operators/similarity.py "
    "sq_topk): FAISS-SQ8 shape — corpus vectors stored as 1-byte "
    "codes (4x smaller scans), query kept full-precision, asymmetric "
    "L2 as an exact BIGINT fold under codegen, TakeOrdered top-k. "
    "The oracle runs the identical quantize+ADC pipeline in DuckDB "
    "list algebra; exactness comes from the shared integer grid "
    "(Q20 query, code*2^13 reconstruction)",
)
def sq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.sq_topk(emb, query_vec_id=7, k=10)


@_spec(
    "bigram_logprob_quality",
    text.bigram_logprob_quality_sql(),
    "extension — bigram-LM quality proxy (operators/text.py "
    "bigram_logprob_quality): add-one-smoothed per-doc mean bigram "
    "NLL under the corpus's own distribution — the token-ORDER-aware "
    "step up from unigram_logprob_quality (word salad scores high "
    "even when every token is common). Bigrams are a scan-stage "
    "slice+transform; the Zipf-bounded bigram table broadcasts back; "
    "one doc-keyed aggregation",
)
def bigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.bigram_logprob_quality(docs)


# ──────────────────────────────────────────────────────────────────────────
# wave24
# ──────────────────────────────────────────────────────────────────────────
#: each event opens a 10-minute activity interval
_SPAN_US = 600 * 1_000_000


@_spec(
    "merged_activity_windows",
    f"""
    WITH iv AS (
      SELECT event_type, epoch_us(ts) AS s, epoch_us(ts) + {_SPAN_US} AS e
      FROM events
    ),
    flagged AS (
      SELECT event_type, s, e,
             MAX(e) OVER (PARTITION BY event_type ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
      FROM iv
    ),
    grouped AS (
      SELECT event_type, s, e,
             SUM(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS period_id
      FROM flagged
    ),
    merged AS (
      SELECT event_type, period_id,
             MIN(s) AS period_start, MAX(e) AS period_end,
             COUNT(*) AS n_merged
      FROM grouped GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_periods,
           CAST(SUM(period_end - period_start) AS BIGINT) AS covered_us,
           CAST(MAX(n_merged) AS BIGINT) AS max_merged,
           CAST(SUM(n_merged) AS BIGINT) AS n_events
    FROM merged GROUP BY 1
    """,
    "extension — interval coalescing (operators/intervals.py "
    "coalesce_intervals): merge each event's 10-minute activity span "
    "into disjoint covered periods per type (the interval-UNION op "
    "behind downtime reports and busy-period stitching; the dual of "
    "overlap_join). Two windows + the final agg share ONE shuffle on "
    "the key; the new-group test uses the EXCLUSIVE running max "
    "(rows ... 1 preceding) — the inclusive form never opens groups. "
    "Integer micros end to end",
)
def merged_activity_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    iv = events.select(
        "event_type",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + _SPAN_US).alias("e"),
    )
    merged = coalesce_intervals(iv, ["event_type"], "s", "e")
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_periods"),
        F.sum(F.col("period_end") - F.col("period_start")).alias("covered_us"),
        F.max("n_merged").alias("max_merged"),
        F.sum("n_merged").alias("n_events"),
    )


# ──────────────────────────────────────────────────────────────────────────
# wave35
# ──────────────────────────────────────────────────────────────────────────
_DAILY_SQL = """
      SELECT event_type,
             CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
"""


@_spec(
    "theil_sen_daily_trend",
    f"""
    WITH daily AS ({_DAILY_SQL}),
    slopes AS (
      SELECT a.event_type,
             CAST(b.c - a.c AS DOUBLE) / (b.day - a.day) AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND b.day > a.day
    ),
    ranked AS (
      SELECT event_type, slope,
             row_number() OVER (PARTITION BY event_type ORDER BY slope) AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM slopes
    )
    SELECT event_type,
           CAST(MAX(m) AS BIGINT) AS n_pairs,
           MAX(CASE WHEN i = (m + 1) // 2 THEN slope END) AS median_slope
    FROM ranked GROUP BY 1
    """,
    "extension — Theil-Sen estimator: per-series robust trend as the "
    "MEDIAN of all pairwise slopes (up to ~29% outlier days cannot "
    "move it, unlike the OLS slope in group_ols). Slopes are exact "
    "ratios of integer (count, day) deltas, the median is the "
    "index-picked order statistic (no float interpolation — the "
    "repo's percentile discipline), and the pair join is per-series "
    "over DAYS (30 rows -> 435 slopes), never events. Completes the "
    "robust family (IQR outliers, winsorized stats, bootstrap "
    "median) with the robust TREND",
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    a = daily.select(
        "event_type", F.col("day").alias("d1"), F.col("c").alias("c1")
    )
    b = daily.select(
        "event_type", F.col("day").alias("d2"), F.col("c").alias("c2")
    )
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("d2") > F.col("d1"))
        .select(
            "event_type",
            ((F.col("c2") - F.col("c1")).cast("double") / (F.col("d2") - F.col("d1"))).alias(
                "slope"
            ),
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope")
    wc = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wc).alias("m"),
    )
    return ranked.groupBy("event_type").agg(
        F.max("m").cast("long").alias("n_pairs"),
        F.max(
            F.when(F.col("i") == F.expr("(m + 1) div 2"), F.col("slope")).otherwise(
                None
            )
        ).alias("median_slope"),
    )


_LAGS = (-3, -2, -1, 0, 1, 2, 3)
_TYPE_X = "view"
_TYPE_Y = "purchase"


@_spec(
    "lagged_cross_correlation",
    f"""
    WITH daily AS ({_DAILY_SQL}),
    x AS (SELECT day, CAST(c AS DOUBLE) AS vx FROM daily
          WHERE event_type = '{_TYPE_X}'),
    y AS (SELECT day, CAST(c AS DOUBLE) AS vy FROM daily
          WHERE event_type = '{_TYPE_Y}'),
    pairs AS (
      SELECT l.lag, x.vx, y.vy
      FROM (SELECT unnest([{", ".join(map(str, _LAGS))}]) AS lag) l
      JOIN x ON TRUE
      JOIN y ON y.day = x.day + l.lag
    )
    SELECT CAST(lag AS INTEGER) AS lag,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           (COUNT(*) * SUM(vx * vy) - SUM(vx) * SUM(vy))
             / sqrt((COUNT(*) * SUM(vx * vx) - SUM(vx) * SUM(vx))
                    * (COUNT(*) * SUM(vy * vy) - SUM(vy) * SUM(vy))) AS corr
    FROM pairs GROUP BY 1
    """,
    "extension — lagged cross-correlation between two event streams "
    "(does view activity LEAD purchase activity, and by how many "
    "days?): Pearson r of the day-aligned series at each lag in "
    "[-3, 3], computed from the five raw moments per lag (one "
    "aggregation; integer-valued doubles keep the moments exact). "
    "The series alignment is a tiny day-keyed self-join over the "
    "per-day rollup — events are scanned once. The lag argmax is "
    "the lead-lag estimate feeding attribution windows "
    "(asof_join_click_purchase's interval choice)",
)
def lagged_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    x = daily.filter(F.col("event_type") == _TYPE_X).select(
        "day", F.col("c").cast("double").alias("vx")
    )
    y = daily.filter(F.col("event_type") == _TYPE_Y).select(
        F.col("day").alias("yday"), F.col("c").cast("double").alias("vy")
    )
    lags = spark.createDataFrame([(l,) for l in _LAGS], "lag int")
    pairs = (
        x.crossJoin(F.broadcast(lags))
        .join(y, F.col("yday") == F.col("day") + F.col("lag"))
    )
    n = F.count(F.lit(1))
    num = n * F.sum(F.col("vx") * F.col("vy")) - F.sum("vx") * F.sum("vy")
    den = F.sqrt(
        (n * F.sum(F.col("vx") * F.col("vx")) - F.sum("vx") * F.sum("vx"))
        * (n * F.sum(F.col("vy") * F.col("vy")) - F.sum("vy") * F.sum("vy"))
    )
    return pairs.groupBy("lag").agg(
        n.cast("long").alias("n_days"), (num / den).alias("corr")
    )


# ──────────────────────────────────────────────────────────────────────────
# wave49
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "kruskal_wallis_doclen",
    evaluation.kruskal_wallis_sql("documents", "source", "n_chars"),
    "stats op — Kruskal-Wallis H across sources on document length: "
    "value-grain pooled doubled-ranks (exact bigints), DECIMAL rank "
    "sums, tie-corrected H rounded at 9dp (k-term double sum); "
    "nonparametric sibling of anova_f.",
)
def kruskal_wallis_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return evaluation.kruskal_wallis(docs, "source", "n_chars")


@_spec(
    "mann_kendall_daily_trend",
    timeseries.mann_kendall_trend_sql(),
    "stats op — Mann-Kendall trend test per event type over daily "
    "counts: exact-integer S from the day-pair kernel, tie-corrected "
    "variance and tau-b from exact bigint moments, continuity-"
    "corrected z; the significance companion to theil_sen_daily_trend.",
)
def mann_kendall_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.mann_kendall_trend(events)


_ISO_BUCKETED_SQL = """
SELECT CAST(floor(c_acctbal / 1000) AS BIGINT) AS bucket,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
            AS BIGINT) AS num,
       CAST(COUNT(*) AS BIGINT) AS den
FROM orders JOIN customer ON c_custkey = o_custkey
GROUP BY 1
"""


@_spec(
    "isotonic_acctbal_urgency",
    regression.isotonic_fit_sql(_ISO_BUCKETED_SQL),
    "calibration op — weighted L2 isotonic regression (closed minimax "
    "form, no sequential PAV) of urgent-order rate over account-"
    "balance buckets: exact prefix-sum interval averages (one "
    "division each), O(k^3) triple join over the tiny bucket table; "
    "corpus scanned once to bucket.",
)
def isotonic_acctbal_urgency(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    bucketed = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_acctbal")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy(
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bucket")
        )
        .agg(
            F.sum((F.col("o_orderpriority") == "1-URGENT").cast("bigint"))
            .cast("bigint")
            .alias("num"),
            F.count(F.lit(1)).cast("bigint").alias("den"),
        )
    )
    return regression.isotonic_fit(bucketed, "bucket", "num", "den")


@_spec(
    "coleman_liau_readability",
    text.coleman_liau_report_sql(),
    "text op — Coleman-Liau readability grade per source: exact "
    "letter/word/sentence regex counts aggregated per source, one "
    "fixed IEEE index expression; scan-stage only, text never "
    "shuffles.",
)
def coleman_liau_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.coleman_liau_report(docs)


@_spec(
    "holt_linear_backtest",
    timeseries.holt_linear_backtest_sql(),
    "forecast op — Holt level+trend one-step-ahead backtest per event "
    "type: fixed-order IEEE fold over the day-sorted series (JVM "
    "aggregate(), no UDF) vs the identical recursion as a recursive "
    "CTE; bit-identical level/trend/MAE, zero rounding.",
)
def holt_linear_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.holt_linear_backtest(events)


# ──────────────────────────────────────────────────────────────────────────
# wave50
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "pettitt_changepoint",
    timeseries.pettitt_changepoint_sql(),
    "stats op — Pettitt rank-based single changepoint per event type: "
    "exact-bigint U_t from the day-pair sign kernel + one prefix "
    "window, earliest-day argmax, exp() significance rounded 9dp; "
    "the distribution-free complement to cusum_changepoint.",
)
def pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.pettitt_changepoint(events)


_PETTITT_PVALS_SQL = (
    "SELECT event_type, p_value FROM ("
    + timeseries.pettitt_changepoint_sql()
    + ")"
)


@_spec(
    "bh_fdr_changepoints",
    evaluation.bh_adjust_sql(_PETTITT_PVALS_SQL, "event_type", "p_value"),
    "stats op — Benjamini-Hochberg FDR adjustment across the per-type "
    "Pettitt p-values: step-up q = p*m/rank + reverse running min, "
    "key-tie-broken ranking so both engines sort identically; the "
    "multiple-testing control for every per-group test in the repo.",
)
def bh_fdr_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pv = timeseries.pettitt_changepoint(events).select("event_type", "p_value")
    return evaluation.bh_adjust(pv, "event_type", "p_value")


@_spec(
    "g_test_source_lang",
    evaluation.g_test_sql("documents", "source", "lang"),
    "stats op — G-test (log-likelihood ratio) of source x language "
    "independence: exact integer marginals, zero cells preserved via "
    "the marginal cross join, per-cell 2*O*ln(O/E) contributions, "
    "G rounded 9dp; the additive companion to chi_square_source_lang.",
)
def g_test_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return evaluation.g_test(docs, "source", "lang")


@_spec(
    "cohens_kappa_gates",
    evaluation.cohens_kappa_sql(
        "documents",
        "n_chars >= 300",
        "len(regexp_extract_all(text, '\\S+')) >= 55",
    ),
    "eval op — Cohen's kappa between two document gates (char-length "
    ">= 300 vs word-count >= 55): chance-corrected agreement from "
    "one conditional-aggregate pass over exact 2x2 cell counts; "
    "single IEEE po/pe/kappa expressions, zero rounding.",
)
def cohens_kappa_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return evaluation.cohens_kappa(
        docs,
        F.col("n_chars") >= 300,
        F.regexp_count(F.col("text"), F.lit(r"\S+")) >= 55,
    )


@_spec(
    "dow_seasonality_index",
    timeseries.dow_seasonality_index_sql(),
    "forecast op — multiplicative day-of-week seasonal indices per "
    "event type over observed days: ratio-of-exact-ratios, ISO "
    "weekday computed portably on both engines; the detector behind "
    "seasonal_naive_backtest's lag-7 choice.",
)
def dow_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.dow_seasonality_index(events)


# ──────────────────────────────────────────────────────────────────────────
# wave52
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "qq_doclen_sources",
    profiling.qq_compare_sql("documents", "source", "n_chars"),
    "drift op — per-source QQ table of document length vs the pooled "
    "ladder at 19 percentile points: type-1 lower element picks "
    "(never interpolated), pooled ladder from the value-grain "
    "cumulative rollup (no global row ranking); exact integers "
    "throughout.",
)
def qq_doclen_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return profiling.qq_compare(docs, "source", "n_chars")


@_spec(
    "volume_drawdown",
    timeseries.volume_drawdown_sql(),
    "ops op — peak-to-trough max drawdown of daily volume per event "
    "type: running-peak window over the daily rollup, exact bigint "
    "drawdowns, earliest-day argmax.",
)
def volume_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.volume_drawdown(events)


@_spec(
    "transition_entropy_events",
    entropy.transition_entropy_sql(),
    "sequence op — conditional entropy H(next|current) of the event-"
    "type chain over per-user streams: one lead() per user (ts + "
    "event_id tie order), exact bigint pair counts, per-term ln on "
    "exact ratios, k^2-term sum rounded 9dp; perplexity = exp(H).",
)
def transition_entropy_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return entropy.transition_entropy(events)


@_spec(
    "mad_outlier_days",
    timeseries.mad_outlier_days_sql(),
    "robust-stats op — modified z-score (median/MAD, Iglewicz-"
    "Hoaglin) outlier audit of daily volume per event type: exact "
    "lower-median element picks for both the median and the MAD, "
    "one fixed IEEE comparison per day; the 50%-breakdown-robust "
    "upgrade of anomaly_days_zscore.",
)
def mad_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.mad_outlier_days(events)


@_spec(
    "dow_anomaly_days",
    timeseries.dow_anomaly_days_sql(),
    "ops op — weekday-conditioned anomaly flags per event type: "
    "per-(type, ISO weekday) mean/sd from exact bigint power sums, "
    "|x - mu| > 2 sigma verdicts as fixed IEEE expressions; the "
    "seasonality-adjusted baseline wave-36's autocorrelation report "
    "motivates.",
)
def dow_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.dow_anomaly_days(events)


# ──────────────────────────────────────────────────────────────────────────
# wave63
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "pq_ann_topk",
    pq.pq_topk_sql(),
    "ANN op — product quantization (Jegou et al. 2011, "
    "operators/pq.py): 4 subspace Lloyd codebooks (Q20 integer "
    "k-means, deterministic seed), 3-bit codes per subspace, "
    "asymmetric-distance top-10 via a broadcast m*k lookup table; "
    "the corpus scan reads codes, never vectors.",
)
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return pq.pq_topk(emb)


# SPRT constants: H0 conversion p0=0.15 vs H1 p1=0.20, alpha=beta=0.05.
# The increments multiply EXACT integer prefix counts, so both engines
# compute bit-identical llr values from the same two double constants.
_L1 = math.log(0.20 / 0.15)  # success increment
_L0 = math.log(0.80 / 0.85)  # failure increment
_A = math.log(0.95 / 0.05)  # upper boundary -> reject H0
_B = math.log(0.05 / 0.95)  # lower boundary -> accept H0


@_spec(
    "sprt_conversion_monitor",
    f"""
    WITH scored AS (
      SELECT ROW_NUMBER() OVER (ORDER BY ts, event_id) AS n,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
               AS cumx
      FROM events
    ),
    llrd AS (
      SELECT n,
             cumx * CAST({_L1!r} AS DOUBLE)
               + (n - cumx) * CAST({_L0!r} AS DOUBLE) AS llr
      FROM scored
    ),
    crossed AS (
      SELECT 0 AS prio, n, llr,
             CASE WHEN llr >= {_A!r} THEN 'reject_h0'
                  ELSE 'accept_h0' END AS decision
      FROM llrd WHERE llr >= {_A!r} OR llr <= {_B!r}
      ORDER BY n LIMIT 1
    ),
    tail AS (
      SELECT 1 AS prio, n, llr, 'continue' AS decision
      FROM llrd ORDER BY n DESC LIMIT 1
    )
    SELECT decision, CAST(n AS BIGINT) AS n_decide,
           ROUND(llr, 6) AS llr_at
    FROM (SELECT * FROM crossed UNION ALL SELECT * FROM tail)
    ORDER BY prio LIMIT 1
    """,
    "sequential-testing op — Wald SPRT over the event stream "
    "(purchase-rate H0 0.15 vs H1 0.20, alpha=beta=0.05): the "
    "log-likelihood ratio is cumx*L1 + (n-cumx)*L0 over EXACT "
    "integer prefix counts from the two-phase distributed rank/scan "
    "(operators/ranking.py — no single-task window), so the first "
    "boundary crossing is engine-exact; returns the decision row.",
)
def sprt_conversion_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "ts",
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("x"),
    )
    ranked = with_global_row_number(ev, [F.col("ts"), F.col("event_id")], "n")
    scanned = with_running_sum(
        ranked, [F.col("ts"), F.col("event_id")], "x", "cumx"
    )
    llr = (F.col("cumx") * _L1 + (F.col("n") - F.col("cumx")) * _L0).alias(
        "llr"
    )
    llrd = scanned.select("n", llr)
    crossed = (
        llrd.filter((F.col("llr") >= _A) | (F.col("llr") <= _B))
        .orderBy("n")
        .limit(1)
        .select(
            F.lit(0).alias("prio"),
            "n",
            "llr",
            F.when(F.col("llr") >= _A, "reject_h0")
            .otherwise("accept_h0")
            .alias("decision"),
        )
    )
    tail = (
        llrd.orderBy(F.col("n").desc())
        .limit(1)
        .select(
            F.lit(1).alias("prio"), "n", "llr", F.lit("continue").alias("decision")
        )
    )
    return (
        crossed.unionByName(tail)
        .orderBy("prio")
        .limit(1)
        .select(
            "decision",
            F.col("n").cast("bigint").alias("n_decide"),
            F.round("llr", 6).alias("llr_at"),
        )
    )


@_spec(
    "rrf_fusion_topk",
    """
    WITH ranked AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r1,
             ROW_NUMBER() OVER (ORDER BY len(string_split(text, ' ')) DESC,
                                doc_id) AS r2
      FROM documents
    )
    SELECT doc_id, CAST(r1 AS BIGINT) AS r1, CAST(r2 AS BIGINT) AS r2,
           ROUND(1.0 / (60 + r1) + 1.0 / (60 + r2), 6) AS rrf
    FROM ranked
    ORDER BY 1.0 / (60 + r1) + 1.0 / (60 + r2) DESC, doc_id
    LIMIT 20
    """,
    "retrieval op — reciprocal rank fusion (Cormack et al. 2009, "
    "k=60) of two document rankings (by chars, by tokens): both "
    "global ranks use the two-phase range-partitioned row number; "
    "fusion is a narrow projection and the top-20 is TakeOrdered.",
)
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(F.split("text", " ")).alias("__ntok"),
    )
    ranked = with_global_row_number(
        docs, [F.col("n_chars").desc(), F.col("doc_id")], "r1"
    )
    ranked = with_global_row_number(
        ranked, [F.col("__ntok").desc(), F.col("doc_id")], "r2"
    )
    rrf = 1.0 / (F.lit(60) + F.col("r1")) + 1.0 / (F.lit(60) + F.col("r2"))
    return (
        ranked.select(
            "doc_id",
            F.col("r1").cast("bigint").alias("r1"),
            F.col("r2").cast("bigint").alias("r2"),
            F.round(rrf, 6).alias("rrf"),
            rrf.alias("__key"),
        )
        .orderBy(F.col("__key").desc(), "doc_id")
        .limit(20)
        .drop("__key")
    )


@_spec(
    "seasonal_dow_decompose",
    """
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS di,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ),
    trended AS (
      SELECT di, x,
             AVG(x) OVER w AS trend,
             COUNT(*) OVER w AS nw
      FROM daily
      WINDOW w AS (ORDER BY di ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT CAST(di % 7 AS BIGINT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(x - trend), 4) AS seasonal
    FROM trended WHERE nw = 7
    GROUP BY di % 7
    """,
    "time-series op — classical additive seasonal decomposition at "
    "the day-of-week period: centered 7-row moving-average trend "
    "(full windows only), per-weekday mean of the detrended series. "
    "The weekday key is epoch-day mod 7 (engine-neutral, unlike "
    "dayofweek()'s differing conventions); the window runs over the "
    "bounded daily series.",
)
def seasonal_dow_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("di")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    w = Window.orderBy("di").rowsBetween(-3, 3)
    trended = daily.select(
        "di",
        "x",
        F.avg("x").over(w).alias("trend"),
        F.count(F.lit(1)).over(w).alias("nw"),
    ).filter(F.col("nw") == 7)
    return trended.groupBy((F.col("di") % 7).cast("bigint").alias("dow")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.avg(F.col("x") - F.col("trend")), 4).alias("seasonal"),
    )


_HURST_NS = (8, 16, 32)


def _hurst_rs_block_sql(n: int) -> str:
    return f"""
      SELECT CAST({n} AS BIGINT) AS block_n, bid, MAX(cum) - MIN(cum) AS r,
             SQRT(SUM(dev * dev) / {n}) AS s
      FROM (
        SELECT bid, dev,
               SUM(dev) OVER (PARTITION BY bid ORDER BY di
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM (
          SELECT di, di // {n} AS bid,
                 x - SUM(x) OVER (PARTITION BY di // {n}) / {n} AS dev,
                 COUNT(*) OVER (PARTITION BY di // {n}) AS bn
          FROM daily
        ) WHERE bn = {n}
      ) GROUP BY bid
    """


@_spec(
    "hurst_rs_daily",
    f"""
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS di,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ),
    blocks AS ({" UNION ALL ".join(_hurst_rs_block_sql(n) for n in _HURST_NS)}),
    per_n AS (
      SELECT block_n, CAST(COUNT(*) AS BIGINT) AS n_blocks,
             AVG(r / s) AS mean_rs
      FROM blocks WHERE s > 0 GROUP BY block_n
    ),
    fit AS (
      SELECT (COUNT(*) * SUM(ln(CAST(block_n AS DOUBLE)) * ln(mean_rs))
              - SUM(ln(CAST(block_n AS DOUBLE))) * SUM(ln(mean_rs)))
             / (COUNT(*) * SUM(ln(CAST(block_n AS DOUBLE))
                               * ln(CAST(block_n AS DOUBLE)))
                - SUM(ln(CAST(block_n AS DOUBLE)))
                  * SUM(ln(CAST(block_n AS DOUBLE)))) AS h
      FROM per_n
    )
    SELECT block_n, n_blocks, ROUND(mean_rs, 4) AS mean_rs,
           ROUND(fit.h, 4) AS hurst
    FROM per_n CROSS JOIN fit
    """,
    "time-series op — Hurst exponent by rescaled-range analysis "
    "(Hurst 1951; Mandelbrot & Wallis 1969): full epoch-aligned "
    "blocks of 8/16/32 days, per-block R (range of the centered "
    "prefix sum, sequential within a block so engine-exact) over S "
    "(population sigma), log-log OLS slope across the three scales. "
    "Blocks aggregate in one shuffle on (scale, block).",
)
def hurst_rs_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("di")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    per_n_parts = []
    for n in _HURST_NS:
        wb = Window.partitionBy("bid")
        blocked = daily.select(
            "di", "x", (F.col("di") / n).cast("long").alias("bid")
        ).select(
            "di",
            "bid",
            (F.col("x") - F.sum("x").over(wb) / n).alias("dev"),
            F.count(F.lit(1)).over(wb).alias("bn"),
        ).filter(F.col("bn") == n)
        wc = (
            Window.partitionBy("bid")
            .orderBy("di")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = blocked.select(
            "bid", "dev", F.sum("dev").over(wc).alias("cum")
        )
        rs = cum.groupBy("bid").agg(
            (F.max("cum") - F.min("cum")).alias("r"),
            F.sqrt(F.sum(F.col("dev") * F.col("dev")) / n).alias("s"),
        )
        per_n_parts.append(
            rs.filter(F.col("s") > 0).agg(
                F.lit(n).cast("bigint").alias("block_n"),
                F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
                F.avg(F.col("r") / F.col("s")).alias("mean_rs"),
            )
        )
    from functools import reduce

    # scales with zero full blocks (short series) drop out, matching
    # the oracle's GROUP BY which never emits an empty group
    per_n = reduce(DataFrame.unionByName, per_n_parts).filter(
        F.col("n_blocks") > 0
    )
    lx = F.log(F.col("block_n").cast("double"))
    ly = F.log("mean_rs")
    fit = per_n.agg(
        (
            (F.count(F.lit(1)) * F.sum(lx * ly) - F.sum(lx) * F.sum(ly))
            / (F.count(F.lit(1)) * F.sum(lx * lx) - F.sum(lx) * F.sum(lx))
        ).alias("h")
    )
    return per_n.crossJoin(F.broadcast(fit)).select(
        "block_n",
        "n_blocks",
        F.round("mean_rs", 4).alias("mean_rs"),
        F.round("h", 4).alias("hurst"),
    )


# ──────────────────────────────────────────────────────────────────────────
# wave66
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "page_hinkley_drift",
    timeseries.page_hinkley_sql(_DAILY_SQL.strip()),
    "timeseries op — Page-Hinkley sequential drift detector per event "
    "type over the daily count series (the mean-shift monitor "
    "streaming pipelines run on ingest volumes): running-mean "
    "deviations accumulate into m_t, PH_t = m_t - min m_s, alarm "
    "when PH crosses lambda. Pure windowed prefix arithmetic over "
    "the daily AGGREGATE, partitioned by series — O(days) per "
    "series after the one corpus-sized groupBy, same scale shape as "
    "cusum_changepoint.",
)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return timeseries.page_hinkley(daily)


_ORDERS_DAILY_SQL = """
      SELECT CAST(date_diff('day', DATE '1990-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
      FROM orders GROUP BY 1
"""


@_spec(
    "segmented_regression_daily",
    timeseries.segmented_regression_sql(_ORDERS_DAILY_SQL.strip()),
    "timeseries op — single-breakpoint segmented regression over "
    "daily order revenue: separate OLS lines left/right of every "
    "candidate break, best split by total SSE. All n-2*min_seg "
    "candidate fits come from ONE ordered prefix-sum pass over the "
    "daily aggregate (six sufficient statistics; right segment = "
    "total minus prefix) — no per-candidate rescan, no O(n^2). Day "
    "index and its moments are exact integers; ALL y moments "
    "accumulate as exact DECIMAL (order-independent in any engine, "
    "the ppr_fixed_point discipline) and fit quality is the "
    "dimensionless sse_ratio = SSE/Syy, so no ROUND targets a "
    "magnitude beyond double resolution.",
)
def segmented_regression_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return timeseries.segmented_regression(daily)


@_spec(
    "haar_energy_daily",
    timeseries.haar_energy_sql(_DAILY_SQL.strip()),
    "timeseries op — Haar wavelet detail energies (levels 1-3) per "
    "event type over the daily count series: the multi-resolution "
    "complement to the periodogram — details localize variance to a "
    "TIME SCALE. Unnormalized integer Haar keeps every detail and "
    "energy an exact BIGINT (normalization applied only at output); "
    "each level is a groupBy over a table that halves, parallel "
    "across series.",
)
def haar_energy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return timeseries.haar_energy(daily)


_TOTAL_DAILY_SQL = """
      SELECT CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
"""


@_spec(
    "runs_test_daily",
    timeseries.runs_test_sql(_TOTAL_DAILY_SQL.strip()),
    "stats op — Wald-Wolfowitz runs test on daily total event counts "
    "around the median: too few runs = trending, too many = "
    "oscillating. Doubled-median order statistics keep the median "
    "exact; signs, run boundaries and counts are exact integers, "
    "only the final z is double. Prefix/lag windows over the daily "
    "aggregate.",
)
def runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return timeseries.runs_test(daily)


from ..operators import regression


@_spec(
    "ransac_line_daily",
    regression.ransac_line_sql(_ORDERS_DAILY_SQL.strip(), seed_mod=53),
    "robust op — RANSAC line fit over daily order revenue: candidate "
    "lines from deterministic modular seed-day pairs (no RNG), each "
    "scored by inlier count against a 6dp-rounded residual vs "
    "4dp-rounded eps = 0.5*sd — counts stay exact integers across "
    "engines. Bounded candidate set x ONE broadcast-join scoring "
    "pass; no per-candidate rescan. Completes the robust-trend "
    "family (Theil-Sen = median-of-slopes, RANSAC = consensus).",
)
def ransac_line_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    from ..operators import regression as _reg

    return _reg.ransac_line(daily, seed_mod=53)


# ──────────────────────────────────────────────────────────────────────────
# wave72
# ──────────────────────────────────────────────────────────────────────────
_SPECTRAL_PERIODS = list(range(2, 31))


@_spec(
    "spectral_entropy_daily",
    f"""
    WITH pg AS ({{PG}})
    , tot AS (SELECT SUM(power_frac) AS tp,
                     CAST(COUNT(*) AS BIGINT) AS np
              FROM pg WHERE power_frac > 0.0)
    SELECT tot.np AS n_periods,
           ROUND(tot.tp, 6) AS total_power_frac,
           ROUND(-SUM((power_frac / tot.tp)
                      * ln(power_frac / tot.tp)), 6) AS spectral_entropy,
           ROUND(-SUM((power_frac / tot.tp)
                      * ln(power_frac / tot.tp)) / ln(tot.np),
                 6) AS entropy_norm
    FROM pg CROSS JOIN tot
    WHERE power_frac > 0.0
    GROUP BY tot.np, tot.tp
    """.replace(
        "{PG}",
        timeseries.periodogram_power_sql("events", "ts", _SPECTRAL_PERIODS),
    ),
    "timeseries op — spectral entropy of the daily count series over "
    "the period-2..30 periodogram grid: one number for 'how "
    "concentrated is the seasonality' (low = one dominant cycle, "
    "high = noise-like) — the summary the per-period periodogram "
    "lines don't give. Entropy is computed from the 6dp-ROUNDED "
    "power fractions in BOTH engines, so the normalization and log "
    "arithmetic see bit-identical inputs.",
)
def spectral_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pg = timeseries.periodogram_power(events, "ts", _SPECTRAL_PERIODS)
    pos = pg.filter(F.col("power_frac") > 0.0)
    tot = pos.agg(
        F.sum("power_frac").alias("__tp"),
        F.count(F.lit(1)).cast("bigint").alias("__np"),
    )
    p = F.col("power_frac") / F.col("__tp")
    return (
        pos.crossJoin(F.broadcast(tot))
        .groupBy("__np", "__tp")
        .agg(
            F.round(F.max("__tp"), 6).alias("total_power_frac"),
            F.round(-F.sum(p * F.log(p)), 6).alias("spectral_entropy"),
            F.round(
                -F.sum(p * F.log(p)) / F.log(F.col("__np").cast("double")),
                6,
            ).alias("entropy_norm"),
        )
        .select(
            F.col("__np").alias("n_periods"),
            "total_power_frac",
            "spectral_entropy",
            "entropy_norm",
        )
    )


@_spec(
    "seasonal_mann_kendall",
    timeseries.seasonal_mann_kendall_sql(),
    "timeseries op — seasonal Mann-Kendall (seasons = day-of-week) "
    "on daily total counts: within-season pair concordance so the "
    "weekly cycle cannot masquerade as trend. S and the tie-"
    "corrected variance numerators are exact bigints; the pair join "
    "is O((days/7)^2) per season, bounded.",
)
def seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.seasonal_mann_kendall(events)


# ──────────────────────────────────────────────────────────────────────────
# wave75
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "newey_west_trend_se",
    regression.newey_west_trend_sql(_ORDERS_DAILY_SQL.strip(), lags=5),
    "econometrics op — daily-revenue OLS trend with Newey-West HAC "
    "standard errors (Bartlett weights, 5 lags): the "
    "autocorrelation-robust SE that replaces the always-violated iid "
    "OLS SE on time series. Slope from exact integer/decimal "
    "moments; per-lag residual products are tiny lag self-joins over "
    "the DAYS table, unrolled identically in the oracle.",
)
def newey_west_trend_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return regression.newey_west_trend(daily, lags=5)


@_spec(
    "ks_exponential_interarrival",
    timeseries.ks_exponential_gaps_sql(),
    "timeseries op — one-sample KS goodness-of-fit of pooled "
    "per-user interarrival gaps vs a fitted exponential: the "
    "memorylessness check behind Poisson traffic assumptions "
    "(ks_test_sources is the two-sample sibling). Integer-"
    "microsecond gaps from PARTITIONED per-user lag windows (no "
    "global sort); ECDF from integer prefix counts; the fitted CDF "
    "is bit-identical in both engines, so the sup is over identical "
    "doubles.",
)
def ks_exponential_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.ks_exponential_gaps(events)


@_spec(
    "durbin_watson_daily",
    regression.durbin_watson_trend_sql(_ORDERS_DAILY_SQL.strip()),
    "econometrics op — Durbin-Watson on the daily-revenue OLS trend "
    "residuals (plus the lag-1 residual autocorrelation): the check "
    "that decides whether newey_west_trend_se's HAC correction is "
    "needed. Slope from exact moments; residual differences are one "
    "lag window over the days table.",
)
def durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return regression.durbin_watson_trend(daily)


# ──────────────────────────────────────────────────────────────────────────
# wave77: serial-dependence / randomness diagnostics
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "ljung_box_daily",
    timeseries.ljung_box_sql(_TOTAL_DAILY_SQL.strip(), lags=7),
    "timeseries op — Ljung-Box portmanteau Q over the first 7 lags "
    "of daily total event counts: the ANY-lag whiteness gate that "
    "complements durbin_watson_daily's lag-1 check. One ordered "
    "window pass builds the lag columns, one aggregate reduces all "
    "numerators — O(days * L), no self-joins.",
)
def ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return timeseries.ljung_box(daily, lags=7)


@_spec(
    "cox_stuart_trend_daily",
    timeseries.cox_stuart_sql(_TOTAL_DAILY_SQL.strip()),
    "timeseries op — Cox-Stuart sign test for trend on daily total "
    "counts: first-half days paired with second-half opposite "
    "numbers, rises vs falls sign-tested. Exact integer signs; the "
    "pair join is days-sized.",
)
def cox_stuart_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return timeseries.cox_stuart(daily)


@_spec(
    "turning_points_daily",
    timeseries.turning_points_sql(_TOTAL_DAILY_SQL.strip()),
    "timeseries op — turning-points randomness test on daily total "
    "counts (strict local max/min count vs the iid 2(n-2)/3 "
    "expectation): the second-difference complement to "
    "runs_test_daily. One lag/lead window over the daily aggregate.",
)
def turning_points_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return timeseries.turning_points(daily)


@_spec(
    "variance_ratio_daily",
    timeseries.variance_ratio_sql(_TOTAL_DAILY_SQL.strip(), q=5),
    "timeseries op — Lo-MacKinlay variance ratio VR(5) on daily "
    "total counts: random-walk vs mean-reversion vs trending "
    "diagnostic from overlapping q-step differences; population-"
    "variance convention documented and identical in both engines. "
    "Two lag windows over the daily aggregate.",
)
def variance_ratio_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return timeseries.variance_ratio(daily, q=5)


# ──────────────────────────────────────────────────────────────────────────
# wave78: econometric / structural diagnostics
# ──────────────────────────────────────────────────────────────────────────
_CLICK_PURCHASE_DAILY_SQL = """
      SELECT CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1
"""


def _click_purchase_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )


@_spec(
    "adf_unit_root_daily",
    regression.adf_unit_root_sql(_TOTAL_DAILY_SQL.strip(), value_col="c"),
    "timeseries op — Dickey-Fuller unit-root test (constant, lag 0) "
    "on daily total event counts: random-walk vs mean-reverting, the "
    "stationarity gate the whole trend family implicitly assumes. "
    "One ordered lag + one six-statistic aggregate, O(days).",
)
def adf_unit_root_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return regression.adf_unit_root(daily, value_col="c")


@_spec(
    "engle_granger_coint",
    regression.engle_granger_sql(_CLICK_PURCHASE_DAILY_SQL.strip()),
    "timeseries op — Engle-Granger two-step cointegration test "
    "between daily click and purchase counts: levels OLS, then "
    "Dickey-Fuller on the residual spread. Two days-sized aggregates "
    "with a scalar broadcast between; the drift-together complement "
    "to rolling_click_purchase_corr's local co-movement.",
)
def engle_granger_coint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return regression.engle_granger(_click_purchase_daily(spark, sf_dir))


@_spec(
    "chow_break_daily",
    regression.chow_break_sql(_ORDERS_DAILY_SQL.strip()),
    "timeseries op — Chow structural-break F-test of the daily order "
    "revenue trend at the sample midpoint: one line or two? The "
    "fixed-break hypothesis test beside segmented_regression_daily's "
    "best-break search. One conditional-sums aggregate, O(days); all "
    "y-derived sums accumulate as exact DECIMAL (partition-order "
    "independent) and fit quality is the dimensionless ssr_ratio.",
)
def chow_break_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return regression.chow_break(daily)


@_spec(
    "breusch_pagan_daily",
    regression.breusch_pagan_sql(_ORDERS_DAILY_SQL.strip()),
    "timeseries op — Breusch-Pagan (Koenker studentized) "
    "heteroskedasticity test on the daily-revenue trend fit: "
    "LM = n*R² of squared residuals on the day index. Detects the "
    "variance drift that invalidates iid trend SEs (the second "
    "violation next to newey_west_trend's autocorrelation). Two "
    "aggregates + scalar broadcast, O(days).",
)
def breusch_pagan_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return regression.breusch_pagan(daily)


@_spec(
    "arch_lm_daily",
    regression.arch_lm_sql(_TOTAL_DAILY_SQL.strip(), value_col="c"),
    "timeseries op — Engle's ARCH-LM test (1 lag) on demeaned daily "
    "total counts: is volatility autocorrelated (bursty days "
    "cluster)? The squared-shock complement to ljung_box_daily's "
    "level autocorrelation. Scalar-mean broadcast + one lag + one "
    "aggregate, O(days).",
)
def arch_lm_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return regression.arch_lm(daily, value_col="c")


@_spec(
    "pacf_daily",
    timeseries.pacf3_sql(_TOTAL_DAILY_SQL.strip()),
    "timeseries op — partial autocorrelations at lags 1-3 (Durbin-"
    "Levinson) on daily total counts: the direct-dependence view "
    "that picks an AR order, removing the shorter-lag pass-through "
    "the raw ACF confounds. Same biased-r convention as "
    "ljung_box_daily; one lag pass + scalar recursion.",
)
def pacf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return timeseries.pacf3(daily)


@_spec(
    "gate_confusion_metrics",
    evaluation.gate_confusion_metrics_sql(
        "documents",
        "n_chars >= 300",
        "len(regexp_extract_all(text, '\\S+')) >= 55",
    ),
    "eval op — binary-confusion battery between the char-length gate "
    "(reference) and the word-count gate (candidate): MCC, Youden's "
    "J, F1, odds ratio + Wald CI from ONE conditional-aggregate pass "
    "over exact 2x2 cells (factors cast to double before multiplying "
    "— the bigint product overflows at crawl scale). The "
    "swap-decision numbers beside cohens_kappa_gates' agreement.",
)
def gate_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return evaluation.gate_confusion_metrics(
        docs,
        F.col("n_chars") >= 300,
        F.regexp_count(F.col("text"), F.lit(r"\S+")) >= 55,
    )


# ──────────────────────────────────────────────────────────────────────────
# wave88: exact matrix profile (operators/timeseries.py matrix_profile)
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "matrix_profile_daily",
    timeseries.matrix_profile_sql(_ORDERS_DAILY_SQL.strip(), m=7),
    "timeseries op — exact matrix profile of daily order revenue "
    "(window m=7, z-normalized Euclidean distance, non-trivial "
    "exclusion |i-j| > 3): every week-shaped subsequence's nearest "
    "neighbor, the motif/discord mining primitive (Yeh et al. 2016) "
    "a z-score scan cannot give. The O(n² m) cross-dot is an "
    "offset-key equi-join over the BOUNDED daily rollup (the "
    "newey_west bounded-kernel discipline — roll up first, never the "
    "fact table); subsequence moments come from one aggregate; "
    "argmin ties break to the smallest neighbor index.",
)
def matrix_profile_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return timeseries.matrix_profile(daily, "day", "y", m=7)


# ──────────────────────────────────────────────────────────────────────────
# wave98: forecast accuracy battery + Diebold-Mariano
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "forecast_accuracy_battery",
    timeseries.forecast_accuracy_battery_sql(),
    "forecast op — the scale-free accuracy trio for the seasonal-"
    "naive forecaster per event type: MASE (MAE ratio vs the naive "
    "no-change forecast — < 1 means the lag-7 seasonality earns its "
    "keep), sMAPE, and Theil's U2 in RMSE-ratio form. Completes "
    "seasonal_naive_backtest's WAPE/bias/RMSE with the metrics that "
    "compare ACROSS series of different scales. All numerators and "
    "denominators are exact bigint sums over the days-sized rollup; "
    "one division each.",
)
def forecast_accuracy_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.forecast_accuracy_battery(events)


@_spec(
    "diebold_mariano_naive",
    timeseries.diebold_mariano_sql(),
    "forecast op — Diebold-Mariano test per event type: is the "
    "seasonal-naive forecaster SIGNIFICANTLY better than the naive "
    "one, or just lucky on this sample? Squared-loss differential "
    "(exact bigint per day), DM = mean / sqrt(NW-variance/n) with "
    "Bartlett weights at 7 lags — the autocorrelation of forecast "
    "errors is exactly why a plain t-test is invalid here, the same "
    "reason newey_west_trend exists. Degenerate long-run variance "
    "yields NULL, never a fabricated stat. Two O(days) passes.",
)
def diebold_mariano_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.diebold_mariano(events)


# ──────────────────────────────────────────────────────────────────────────
# wave100: complexity — sample entropy + permutation entropy
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "sample_entropy_daily",
    timeseries.sample_entropy_sql(_ORDERS_DAILY_SQL.strip()),
    "timeseries op — sample entropy SampEn(m=2, r=0.2*SD) of daily "
    "revenue: -ln(A/B) over Chebyshev template matches, the time-"
    "domain regularity measure (Richman-Moorman) next to hurst_rs's "
    "memory and spectral_entropy's frequency spread. The pair stage "
    "is the bounded daily-rollup self-join (matrix_profile "
    "discipline); r comes from exact moments so both engines compare "
    "against the identical double, and matching is exact bigint "
    "comparison counting with one closing log.",
)
def sample_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return timeseries.sample_entropy(daily)


@_spec(
    "permutation_entropy_daily",
    timeseries.permutation_entropy_sql(_ORDERS_DAILY_SQL.strip()),
    "timeseries op — order-3 permutation entropy (Bandt-Pompe) of "
    "daily revenue: Shannon entropy of the 6 ordinal triple patterns "
    "normalized by ln(6) — 1 for white noise, small for "
    "deterministic dynamics, and invariant to ANY monotone transform "
    "of the values (the robustness sample_entropy's amplitude "
    "tolerance lacks). Ties break by temporal order via three <= "
    "comparisons so both engines bucket identically; one window pass "
    "+ a <=6-row groupBy.",
)
def permutation_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return timeseries.permutation_entropy(daily)


# ──────────────────────────────────────────────────────────────────────────
# wave107: Prais-Winsten AR(1) GLS + Pesaran-Timmermann
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "prais_winsten_daily",
    regression.prais_winsten_sql(_ORDERS_DAILY_SQL.strip()),
    "timeseries op — Prais-Winsten feasible-GLS trend of daily "
    "revenue under AR(1) errors: the suite detects serial "
    "correlation (durbin_watson_daily, ljung_box_daily) and patches "
    "the SEs (newey_west_trend_se); this RE-ESTIMATES the line "
    "itself — residual rho from one lag pass, quasi-differenced "
    "regression with the first observation retained at sqrt(1-rho^2) "
    "weight (the improvement over Cochrane-Orcutt's row drop), "
    "closed 2x2 normal equations. Reports OLS and PW slopes side by "
    "side on the mean-normalized scale; O(days) passes only.",
)
def prais_winsten_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return regression.prais_winsten(daily)


@_spec(
    "pesaran_timmermann_momentum",
    regression.pesaran_timmermann_sql(_ORDERS_DAILY_SQL.strip()),
    "timeseries op — Pesaran-Timmermann directional-accuracy test of "
    "the momentum rule (predict today's revenue direction by "
    "yesterday's) on daily revenue: is the sign hit rate better than "
    "the no-skill rate implied by the marginal up-probabilities? The "
    "market-efficiency read-out a raw hit percentage cannot give — "
    "drift alone makes high hit rates trivial. Exact sign "
    "comparisons, every probability a ratio of exact bigint counts, "
    "one window pass + one aggregate.",
)
def pesaran_timmermann_momentum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return regression.pesaran_timmermann(daily)


# ──────────────────────────────────────────────────────────────────────────
# wave108: fractal scaling — DFA + Higuchi fractal dimension
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "dfa_alpha_daily",
    timeseries.dfa_alpha_sql(_ORDERS_DAILY_SQL.strip()),
    "timeseries op — detrended fluctuation analysis of daily "
    "revenue: profile cumsum -> per-box linear detrend (closed-form "
    "residual SS from six in-box moments, boxes of 8/16/32/64 days) "
    "-> log-log alpha. The long-memory exponent that, unlike "
    "hurst_rs_daily, stays valid under nonstationary trends (they "
    "are removed box-by-box) — the reason DFA displaced R/S. One "
    "explode over four box-size literals, O(days*4) rows, no "
    "self-joins.",
)
def dfa_alpha_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return timeseries.dfa_alpha(daily)


@_spec(
    "higuchi_fd_daily",
    timeseries.higuchi_fd_sql(_ORDERS_DAILY_SQL.strip()),
    "timeseries op — Higuchi fractal dimension of daily revenue: "
    "average decimated curve length L(k) at lags 1..8, "
    "ln L(k) ~ -D ln k; D in [1,2] is the graph-roughness complement "
    "of dfa_alpha (D ~ 2 - alpha for fractional processes). The "
    "decimation trick: partition by (k, t mod k) and lag within the "
    "partition — one window pass over the k-exploded table, no "
    "per-lag joins; Higuchi's exact normalization from bigint "
    "counts.",
)
def higuchi_fd_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return timeseries.higuchi_fd(daily)


# ──────────────────────────────────────────────────────────────────────────
# wave112: Inclán-Tiao CUSUM of squares
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "cusum_squares_daily",
    timeseries.cusum_squares_sql(_ORDERS_DAILY_SQL.strip()),
    "timeseries op — Inclán-Tiao centered CUSUM of SQUARES on daily "
    "revenue: where cusum_changepoint hunts a mean shift, this hunts "
    "a VARIANCE-regime boundary — D_t = C_t/C_n - t/n over "
    "cumulative squared deviations, sqrt(n/2)*max|D_t| against the "
    "Brownian-bridge critical values (1.358 at 5%). The volatility "
    "complement to breusch_pagan/white (which test a TREND in "
    "variance, not a break). One prefix-sum pass, argmax ties to the "
    "earliest day.",
)
def cusum_squares_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return timeseries.cusum_squares(daily)


# ──────────────────────────────────────────────────────────────────────────
# wave 122: Huber M-estimator robust trend
# ──────────────────────────────────────────────────────────────────────────


@_spec(
    "huber_trend_daily",
    regression.huber_trend_sql(_ORDERS_DAILY_SQL.strip()),
    "stats op — Huber M-estimator trend on daily order revenue "
    "(IRLS, 3 FIXED unrolled iterations; scale = 1.4826*MAD via exact "
    "interpolated medians; weights w = min(1, k*s/|r|), k = 1.345): "
    "the M-estimation member of the robust-trend family beside "
    "theil_sen (rank), ransac (consensus), and siegel (repeated "
    "medians) — bounded influence with near-OLS efficiency. Each "
    "iteration is two O(days) aggregates + scalar broadcasts; every "
    "ROUND target is slope/scale-magnitude, inside double resolution "
    "(the wave-118 rule).",
)
def huber_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return regression.huber_trend(daily)


# ──────────────────────────────────────────────────────────────────────────
# wave 126: split conformal prediction interval
# ──────────────────────────────────────────────────────────────────────────


@_spec(
    "conformal_trend_daily",
    regression.conformal_trend_interval_sql(_ORDERS_DAILY_SQL.strip()),
    "stats op — split conformal prediction interval around the daily "
    "revenue trend (Lei et al.): fit OLS on the first half, take the "
    "exact finite-sample conformal quantile (an ORDER STATISTIC, "
    "ceil((1-a)(n+1))-th absolute residual) on the next quarter, "
    "report empirical coverage on the held-out tail — distribution-"
    "free uncertainty with a marginal >=90% guarantee, no normality "
    "assumed anywhere. Fit moments are exact DECIMAL (wave-118 "
    "discipline); selection and coverage are order-statistic / "
    "integer-count operations, immune to summation order. O(days), "
    "three filters over one cached index.",
)
def conformal_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return regression.conformal_trend_interval(daily)


# ──────────────────────────────────────────────────────────────────────────
# wave 128: Cameron-Trivedi overdispersion test
# ──────────────────────────────────────────────────────────────────────────


@_spec(
    "overdispersion_event_counts",
    timeseries.overdispersion_test_sql(_DAILY_SQL.strip()),
    "stats op — Cameron-Trivedi overdispersion test per event type "
    "over the daily count series: is Poisson even the right error "
    "model? T = Σ[(y-μ)²-y]/sqrt(2Σμ²) ~ N(0,1) under the Poisson "
    "null; large positive T = negative-binomial territory, which "
    "invalidates every Poisson rate CI downstream. With S = Σy and "
    "Q = Σ(n·y-S)² exact BIGINTs, the statistic is pure integer "
    "closed form + one sqrt — no double accumulates anywhere "
    "(wave-118 discipline). One groupBy over days-per-type.",
)
def overdispersion_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return timeseries.overdispersion_test(daily)


# ──────────────────────────────────────────────────────────────────────────
# wave 136: Croston intermittent-demand forecast
# ──────────────────────────────────────────────────────────────────────────


@_spec(
    "croston_part_demand",
    timeseries.croston_forecast_sql(
        """SELECT l_partkey AS item,
                  CAST(date_diff('day', DATE '1990-01-01',
                                 CAST(l_shipdate AS DATE)) AS BIGINT) AS day,
                  CAST(l_quantity AS BIGINT) AS qty
           FROM lineitem""",
    ),
    "forecast op — Croston's method + Syntetos-Boylan approximation "
    "for per-part intermittent demand: separate SES on nonzero demand "
    "SIZES and inter-demand INTERVALS, rate = z/p, SBA x(1-a/2) "
    "de-biasing — THE spare-parts/slow-mover forecaster; plain SES "
    "(holt_linear) chases the zeros. The double recursion is a fixed-"
    "order IEEE fold over each part's day-sorted demand events (one "
    "aggregate() in Spark, identical recursive CTE in DuckDB) so "
    "every output double is bit-identical with NO rounding; each "
    "part's event array is bounded by its own sparsity.",
)
def croston_part_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    demand = li.select(
        F.col("l_partkey").alias("item"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    return timeseries.croston_forecast(demand)


# ──────────────────────────────────────────────────────────────────────────
# wave 138: Theta-method forecast
# ──────────────────────────────────────────────────────────────────────────


@_spec(
    "theta_forecast_daily",
    timeseries.theta_forecast_sql(_ORDERS_DAILY_SQL.strip()),
    "forecast op — the Theta method (M3 competition winner, the "
    "classical benchmark every new forecaster must beat) on daily "
    "order revenue: decompose into theta-lines around the linear "
    "trend, SES the theta=2 line (local curvature), average with the "
    "trend extrapolation. Completes the classical trio with "
    "holt_linear_backtest (dense trending) and croston_part_demand "
    "(intermittent). OLS moments exact DECIMAL; the SES recursion is "
    "a fixed-order IEEE fold (identical recursive CTE in DuckDB, "
    "smoothing literals explicitly DOUBLE-cast).",
)
def theta_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return timeseries.theta_forecast(daily)


# ──────────────────────────────────────────────────────────────────────────
# wave 148: KPSS level-stationarity test
# ──────────────────────────────────────────────────────────────────────────


@_spec(
    "kpss_level_daily",
    regression.kpss_level_test_sql(_TOTAL_DAILY_SQL.strip(), value_col="c"),
    "timeseries op — KPSS level-stationarity test on daily total "
    "event counts, the NULL-reversed complement of "
    "adf_unit_root_daily on the SAME series: ADF's null is a unit "
    "root, KPSS's null is stationarity, and the reject/fail four-way "
    "is the standard joint diagnosis. Bartlett long-run variance at "
    "Schwert bandwidth via a STATIC 16-lag plan (data-dependent "
    "truncation enters only through greatest(0, 1-j/(q+1)) weights); "
    "scaled integer residuals T*y - S keep every prefix sum exact, "
    "P^2 and lag products accumulate as DECIMAL(38,0).",
)
def kpss_level_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return regression.kpss_level_test(daily, value_col="c")


# ──────────────────────────────────────────────────────────────────────────
# wave 153: Holt-Winters additive seasonal backtest
# ──────────────────────────────────────────────────────────────────────────


@_spec(
    "holt_winters_dow_backtest",
    timeseries.holt_winters_backtest_sql("events"),
    "timeseries op — Holt-Winters additive level+trend+day-of-week "
    "season one-step backtest of each event type's daily counts: the "
    "seasonal completion of holt_linear_backtest (whose trend term "
    "chases the weekend dip every week on a dow-rhythmed series) and "
    "the adaptive upgrade of seasonal_naive_backtest (which never "
    "re-estimates the season). Same determinism discipline: one "
    "fixed-order IEEE fold per group (aggregate() with the 7-slot "
    "seasonal state / recursive CTE with 7 slot columns), "
    "bit-identical without rounding.",
)
def holt_winters_dow_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.holt_winters_backtest(events)


# ──────────────────────────────────────────────────────────────────────────
# wave 156: GPH log-periodogram long-memory estimator
# ──────────────────────────────────────────────────────────────────────────


@_spec(
    "gph_long_memory_daily",
    timeseries.gph_long_memory_sql("events"),
    "timeseries op — Geweke/Porter-Hudak log-periodogram estimate of "
    "the long-memory parameter d on daily event counts: the "
    "frequency-domain third of the long-memory triangle beside "
    "hurst_rs_daily and dfa_alpha_daily (d ~ H - 1/2; three "
    "differently-biased estimators agreeing is the standard evidence "
    "pattern). Frequencies j = 1..floor(sqrt(T)) indexed by the "
    "first m day rows themselves — data-dependent bandwidth with a "
    "STATIC plan; one T x m trig cross of the days rollup "
    "(periodogram_power discipline), then closed-form OLS of log I "
    "on log 4sin^2(w/2) with the known pi^2/6 error variance.",
)
def gph_long_memory_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.gph_long_memory(events)


# ──────────────────────────────────────────────────────────────────────────
# wave 159: Phillips-Perron unit-root test
# ──────────────────────────────────────────────────────────────────────────


@_spec(
    "phillips_perron_daily",
    regression.phillips_perron_sql(_TOTAL_DAILY_SQL.strip(), value_col="c"),
    "timeseries op — Phillips-Perron Z_tau unit-root test on daily "
    "total event counts, completing the stationarity triangle on the "
    "SAME series: ADF (parametric lag augmentation), KPSS (reversed "
    "null), PP (non-parametric Newey-West correction of the lag-0 "
    "t-stat — robust to serial correlation ADF's lag-0 form leaves "
    "in the residuals). Same static 16-lag Bartlett machinery as "
    "kpss_level_daily; three passes over the days rollup with one "
    "1-row (alpha, rho) broadcast between.",
)
def phillips_perron_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return regression.phillips_perron(daily, value_col="c")


# ──────────────────────────────────────────────────────────────────────────
# wave 161: mSPRT always-valid A/B monitor
# ──────────────────────────────────────────────────────────────────────────
from ..operators.evaluation import msprt_ab_monitor, msprt_ab_monitor_sql

_ARM_SQL = (
    "CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':arm'),"
    " 1, 15)) AS BIGINT) % 2 = 0"
)


@_spec(
    "msprt_ab_always_valid",
    msprt_ab_monitor_sql(
        "events", "ts", _ARM_SQL, "event_type = 'purchase'"
    ),
    "sequential-testing op — mixture-SPRT always-valid p-value "
    "(Johari et al. 2017) over a hash-randomized A/A split of the "
    "event stream (arm = md5(user_id) bucket, outcome = purchase): "
    "the peeking-safe companion to sprt_conversion_monitor's Wald "
    "test, which needs a pre-committed alternative and a single "
    "look. On an A/A split the monitor should NOT cross — its "
    "always-valid p staying high is itself the spec's planted "
    "property. Daily cumulative integer counts through one ordered "
    "window; closed-form mixture likelihood both engines evaluate "
    "identically.",
)
def msprt_ab_always_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.expr(
            "cast(conv(substring(md5(concat(cast(user_id as string),"
            " ':arm')), 1, 15), 16, 10) as bigint)"
        )
        % 2
        == 0
    )
    return msprt_ab_monitor(
        ev.select(
            "ts",
            arm.alias("arm"),
            (F.col("event_type") == "purchase").alias("y"),
        ),
        "ts",
        "arm",
        "y",
    )


# ──────────────────────────────────────────────────────────────────────────
# wave 162: TSB intermittent-demand forecast
# ──────────────────────────────────────────────────────────────────────────


@_spec(
    "tsb_part_demand",
    timeseries.tsb_forecast_sql(
        """SELECT l_partkey AS item,
                  CAST(date_diff('day', DATE '1990-01-01',
                                 CAST(l_shipdate AS DATE)) AS BIGINT) AS day,
                  CAST(l_quantity AS BIGINT) AS qty
           FROM lineitem""",
    ),
    "forecast op — TSB (Teunter-Syntetos-Babai 2011) per-part "
    "intermittent demand on the SAME feed as croston_part_demand: "
    "Croston never updates between demands, so a DEAD part keeps its "
    "last rate forever; TSB decays the demand probability every "
    "period ((1-beta)^gap in closed form over the event gaps — the "
    "fold still walks only demand events) and applies the trailing "
    "decay to the table's last day, which is exactly where "
    "obsolescence lives. One shared ln(1-beta) literal keeps both "
    "engines' exp chains identical; outputs round at 6dp (exp is in "
    "play, unlike croston's +/*-only fold).",
)
def tsb_part_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    demand = li.select(
        F.col("l_partkey").alias("item"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    return timeseries.tsb_forecast(demand)


# ──────────────────────────────────────────────────────────────────────────
# wave 166: Hotelling T² multivariate control chart
# ──────────────────────────────────────────────────────────────────────────


@_spec(
    "hotelling_t2_daily",
    timeseries.hotelling_t2_chart_sql("events"),
    "ops op — Hotelling T-squared control chart on the daily "
    "(clicks, purchases) vector: the multivariate upgrade of "
    "xmr_control_chart — two univariate charts miss days where the "
    "pair moves in an unusual JOINT direction (clicks up, purchases "
    "down, each inside its own band). Exact bigint/decimal scaled "
    "moments cast to double once, closed-form 2x2 inverse, chi2(2) "
    "99th-percentile signal line. One daily rollup + a 1-row moment "
    "broadcast; O(days).",
)
def hotelling_t2_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.hotelling_t2_chart(events)


# ──────────────────────────────────────────────────────────────────────────
# wave 172: negation-pattern funnel
# ──────────────────────────────────────────────────────────────────────────


@_spec(
    "clean_conversion_funnel",
    timeseries.negation_pattern_funnel_sql("events"),
    "sequence op — negation-pattern funnel (click -> purchase within "
    "30 min with NO error strictly between): the MATCH_RECOGNIZE "
    "exclusion clause the plain funnels (funnel_conversion, "
    "event_transition_matrix, paths_to_purchase) cannot express — "
    "'did it convert CLEANLY or did an error interpose' is the "
    "reliability cost question. No joins: one per-user window "
    "computes next-goal and next-blocker via conditional MIN over "
    "the strictly-following frame (ties total-ordered on (t, event) "
    "— ROWS frames under a tied sort are frame-order-dependent). "
    "Exact microsecond integers throughout.",
)
def clean_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.negation_pattern_funnel(events)
