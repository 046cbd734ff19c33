"""Relational parity queries — one named plan per operator row of
SURVEY.md §2.2-2.8, each paired with its DuckDB oracle SQL.

Conventions (driver contract):
  * every computed column aliased identically in Spark and oracle SQL;
  * float aggregates rounded (2 for money, 4 for ratios) on both sides;
  * integer SUM/COUNT cast to BIGINT on both sides (DuckDB SUM(BIGINT)
    yields INT128 otherwise);
  * any nondeterministic collection sorted before stringifying.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import scalar
from ..operators import aggregates, reshape, windows
from ..quality import validate_join
from ..registry import QuerySpec, spec_decorator

SPECS: list[QuerySpec] = []


_spec = spec_decorator(SPECS)


# ---------------------------------------------------------------------------
# §2.2 Projections / filters / predicates
# ---------------------------------------------------------------------------


@_spec(
    "project_rename",
    """
    SELECT p_partkey AS part_key, p_name AS part_name,
           p_retailprice AS retail_price
    FROM part
    """,
    "P1/P9/P10 — column subset + rename (school_outcomes_etl.py:105-106)",
)
def project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("part_key"),
        F.col("p_name").alias("part_name"),
        F.col("p_retailprice").alias("retail_price"),
    )


@_spec(
    "constant_and_derived_columns",
    """
    SELECT l_orderkey, l_linenumber,
           2023 AS year,
           l_extendedprice * (1 - l_discount) AS net_price,
           l_discount * 100 AS discount_pct
    FROM lineitem
    """,
    "P2 constant insert (school_outcomes_etl.py:56) + P6/F8/F9 derived "
    "ratio projection (dashboard/app_data.R:34-38)",
)
def constant_and_derived_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.lit(2023).alias("year"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        (F.col("l_discount") * 100).alias("discount_pct"),
    )


@_spec(
    "filter_inequality_notnull",
    """
    SELECT c_custkey, c_name, c_mktsegment,
           NULLIF(c_mktsegment, 'MACHINERY') AS seg_or_null
    FROM customer
    WHERE c_mktsegment <> 'BUILDING'
      AND NULLIF(c_mktsegment, 'MACHINERY') IS NOT NULL
    """,
    "P3 inequality filter (school_outcomes_etl.py:130) + P5 NOT-NULL "
    "filter (create_school_town_lookup.Rmd:38)",
)
def filter_inequality_notnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    seg_or_null = F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY"))
    return (
        cust.withColumn("seg_or_null", seg_or_null)
        .filter(F.col("c_mktsegment") != "BUILDING")
        .filter(F.col("seg_or_null").isNotNull())
        .select("c_custkey", "c_name", "c_mktsegment", "seg_or_null")
    )


@_spec(
    "conditional_coalesce",
    """
    SELECT p_partkey,
           CASE WHEN p_size > 25 THEN 'big' ELSE 'small' END AS size_class,
           COALESCE(NULLIF(p_brand, 'Brand#13'), p_type) AS brand_or_type
    FROM part
    """,
    "P8 conditional replace / coalesce (dags/district_gis_etl.py:51, "
    "create_school_town_lookup.Rmd:31, run_analysis.Rmd:64)",
)
def conditional_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.when(F.col("p_size") > 25, "big").otherwise("small").alias("size_class"),
        F.coalesce(F.nullif(F.col("p_brand"), F.lit("Brand#13")), F.col("p_type")).alias(
            "brand_or_type"
        ),
    )


@_spec(
    "multi_col_pct_transform",
    """
    SELECT l_orderkey, l_linenumber,
           l_discount * 100 AS l_discount,
           l_tax * 100 AS l_tax
    FROM lineitem
    """,
    "P7 programmatic multi-column transform: mutate(across(pct_, *100)) "
    "(run_analysis.Rmd:66-71)",
)
def multi_col_pct_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_discount", "l_tax"
    )
    pct_cols = {"l_discount", "l_tax"}  # the across(starts_with('pct_')) set
    return li.select(
        *[
            (F.col(c) * 100).alias(c) if c in pct_cols else F.col(c)
            for c in li.columns
        ]
    )


# ---------------------------------------------------------------------------
# §2.7 Scalar functions
# ---------------------------------------------------------------------------


@_spec(
    "comma_strip_cast",
    """
    SELECT l_orderkey, l_linenumber,
           format('{:,}', CAST(FLOOR(l_extendedprice) AS BIGINT)) AS price_str,
           CAST(replace(format('{:,}', CAST(FLOOR(l_extendedprice) AS BIGINT)),
                        ',', '') AS BIGINT) AS price_int
    FROM lineitem
    """,
    "F1 comma-strip numeric cast (school_outcomes_etl.py:109-110; "
    "election_results_etl.py:107-109) — comma-grouped string round-trip",
)
def comma_strip_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    price_str = F.format_number(F.floor("l_extendedprice").cast("long"), 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        price_str.alias("price_str"),
        scalar.comma_strip_cast(price_str).alias("price_int"),
    )


@_spec(
    "title_and_directions",
    """
    SELECT c_custkey,
           array_to_string(
             list_transform(string_split(lower(c_name), ' '),
                            w -> upper(w[1:1]) || w[2:]),
             ' ') AS title_name,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace('N. ' || c_name, 'N\\.', 'North'),
                 'S\\.', 'South'),
               'E\\.', 'East'),
             'W\\.', 'West') AS expanded_name
    FROM customer
    """,
    "F3 title case (election_results_etl.py:97) + F4 compass-direction "
    "regex expansion (election_results_etl.py:100-104)",
)
def title_and_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        scalar.title_case("c_name").alias("title_name"),
        scalar.expand_directions(F.concat(F.lit("N. "), F.col("c_name"))).alias(
            "expanded_name"
        ),
    )


# ---------------------------------------------------------------------------
# §2.6 Reshape
# ---------------------------------------------------------------------------


@_spec(
    "string_split_explode",
    """
    SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word
    FROM part
    """,
    "R2 explode list column (dags/district_gis_etl.py:46-47)",
)
def string_split_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    return reshape.explode_list(part, "p_name", " ", "word")


@_spec(
    "separate_unpivot",
    """
    WITH positions AS (
      SELECT p_partkey, 1 AS word_number, NULLIF(split_part(p_name, ' ', 1), '') AS word FROM part
      UNION ALL
      SELECT p_partkey, 2, NULLIF(split_part(p_name, ' ', 2), '') FROM part
      UNION ALL
      SELECT p_partkey, 3, NULLIF(split_part(p_name, ' ', 3), '') FROM part
    )
    SELECT p_partkey, CAST(word_number AS INTEGER) AS word_number, word
    FROM positions WHERE word IS NOT NULL
    """,
    "R3 separate + pivot_longer + NA-filter (create_school_town_lookup."
    "Rmd:34-38; run_analysis.Rmd:40-44)",
)
def separate_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    return reshape.separate_unpivot(
        part, "p_name", " ", 3, names_to="word_number", values_to="word"
    ).select("p_partkey", "word_number", "word")


@_spec(
    "pivot_wide",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty_f,
           CAST(SUM(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty_o,
           CAST(SUM(CAST(CASE WHEN l_linestatus = 'P' THEN l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty_p,
           CAST(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END AS DECIMAL(18,2))) AS DOUBLE) AS sum_price_f,
           CAST(SUM(CAST(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END AS DECIMAL(18,2))) AS DOUBLE) AS sum_price_o,
           CAST(SUM(CAST(CASE WHEN l_linestatus = 'P' THEN l_extendedprice END AS DECIMAL(18,2))) AS DOUBLE) AS sum_price_p
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "R1 pivot long->wide, multi-value, with {value}_{pivotval} naming "
    "(school_outcomes_etl.py:113-119)",
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = reshape.pivot_wide(
        li,
        index=["l_returnflag"],
        pivot_col="l_linestatus",
        values={
            "sum_qty": aggregates.money_sum("l_quantity"),
            "sum_price": aggregates.money_sum("l_extendedprice"),
        },
        pivot_values=["F", "O", "P"],
    )
    return wide


# ---------------------------------------------------------------------------
# §2.3 Joins (+ §2.9 validation)
# ---------------------------------------------------------------------------


@_spec(
    "join_inner_validated_1to1",
    """
    SELECT c.c_custkey, c.c_name,
           co.sum_totalprice,
           CAST(co.n_orders AS BIGINT) AS n_orders
    FROM customer c
    INNER JOIN (
      SELECT o_custkey AS c_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice,
             COUNT(*) AS n_orders
      FROM orders GROUP BY o_custkey
    ) co USING (c_custkey)
    """,
    "J1 inner equi-join with validate='1:1' (school_outcomes_etl.py:127) "
    "+ T1 cardinality check",
)
def join_inner_validated_1to1(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    co = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        aggregates.money_sum("o_totalprice").alias("sum_totalprice"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    joined = validate_join(cust, co, on="c_custkey", how="inner", validate="1:1")
    return joined.select(
        "c_custkey",
        "c_name",
        "sum_totalprice",
        F.col("n_orders").cast("long").alias("n_orders"),
    )


@_spec(
    "join_left_multikey",
    """
    SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, sa.status_avg
    FROM orders o
    LEFT JOIN (
      SELECT o_custkey, o_orderstatus,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(o_totalprice) AS status_avg
      FROM orders GROUP BY o_custkey, o_orderstatus
    ) sa ON o.o_custkey = sa.o_custkey AND o.o_orderstatus = sa.o_orderstatus
    """,
    "J5 multi-key left join (dashboard/app_data.R:43-47) + J3 left outer",
)
def join_left_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    sa = orders.groupBy("o_custkey", "o_orderstatus").agg(
        aggregates.money_avg("o_totalprice").alias("status_avg")
    )
    return orders.join(sa, on=["o_custkey", "o_orderstatus"], how="left").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "status_avg"
    )


@_spec(
    "join_m1_validated_diffkeys",
    """
    SELECT c.c_custkey, c.c_name, n.n_name AS nation_name,
           r.r_name AS region_name
    FROM customer c
    INNER JOIN nation n ON c.c_nationkey = n.n_nationkey
    INNER JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    "J2 chained inner joins (school_outcomes_scraper.py:139-143) + J6 "
    "many-to-one validated join with differing key names "
    "(create_school_town_lookup.Rmd:50-54); dims broadcast",
)
def join_m1_validated_diffkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # m:1 contract — right side must be unique on its key (T2)
    from ..quality import assert_unique_key

    assert_unique_key(nation, "n_nationkey", side="nation (right side of m:1 join)")
    assert_unique_key(region, "r_regionkey", side="region (right side of m:1 join)")
    return (
        cust.join(
            F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"], "inner"
        )
        .join(F.broadcast(region), F.col("n_regionkey") == region["r_regionkey"], "inner")
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


# ---------------------------------------------------------------------------
# §2.4 Aggregations
# ---------------------------------------------------------------------------


@_spec(
    "groupby_multisum",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(o_totalprice) AS avg_totalprice,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
    "A1 group-by + multi-SUM (dashboard/sql/get_school_analysis_data."
    "sql:18-26 county/town pre-aggregate)",
)
def groupby_multisum(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        aggregates.money_sum("o_totalprice").alias("sum_totalprice"),
        aggregates.money_avg("o_totalprice").alias("avg_totalprice"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@_spec(
    "group_count_frequency",
    """
    SELECT lang, source, COUNT(*) AS n
    FROM documents
    GROUP BY lang, source
    """,
    "A3 group count n() (run_analysis.Rmd:46-48) + A4 frequency table "
    "(create_school_town_lookup.Rmd:45)",
)
def group_count_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return aggregates.frequency_table(docs, "lang", "source")


@_spec(
    "zscore_global",
    """
    SELECT c_custkey,
           ROUND((c_acctbal - AVG(c_acctbal) OVER ()) /
                 STDDEV_SAMP(c_acctbal) OVER (), 4) AS acctbal_z
    FROM customer
    """,
    "A5 grand (ungrouped) aggregate standardization "
    "(query_census_data.Rmd:83)",
)
def zscore_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    scored = scalar.with_zscore(cust, "c_acctbal", "__z")
    return scored.select(
        "c_custkey", F.round(F.col("__z"), 4).alias("acctbal_z")
    )


@_spec(
    "summary_stats",
    """
    SELECT MIN(l_quantity) AS min_l_quantity,
           MAX(l_quantity) AS max_l_quantity,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(l_quantity) AS mean_l_quantity,
           ROUND(STDDEV_SAMP(l_quantity), 4) AS stddev_l_quantity,
           COUNT(l_quantity) AS count_l_quantity,
           MIN(l_extendedprice) AS min_l_extendedprice,
           MAX(l_extendedprice) AS max_l_extendedprice,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(l_extendedprice) AS mean_l_extendedprice,
           ROUND(STDDEV_SAMP(l_extendedprice), 4) AS stddev_l_extendedprice,
           COUNT(l_extendedprice) AS count_l_extendedprice
    FROM lineitem
    """,
    "A6 summary statistics (run_analysis.Rmd:75)",
)
def summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return aggregates.summary_stats(li, "l_quantity", "l_extendedprice")


@_spec(
    "distinct_count",
    """
    SELECT COUNT(DISTINCT c_custkey) AS n_distinct, COUNT(*) AS n_rows
    FROM customer
    """,
    "A7 distinct count assertion (dashboard/app_data.R:40)",
)
def distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.agg(
        F.countDistinct("c_custkey").alias("n_distinct"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# §2.5 Windows, §2.8 sorts/unions
# ---------------------------------------------------------------------------


@_spec(
    "window_rownumber",
    """
    SELECT c_nationkey, c_custkey, idx FROM (
      SELECT c_nationkey, c_custkey,
             CAST(row_number() OVER (PARTITION BY c_nationkey
                                     ORDER BY c_custkey) AS INTEGER) AS idx
      FROM customer
    ) WHERE idx <= 3
    """,
    "W1 row_number per group (create_school_town_lookup.Rmd:41-42) + "
    "top-k-per-group extension",
)
def window_rownumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_custkey")
    ranked = windows.row_number_per_group(
        cust, partition_by=["c_nationkey"], order_by=["c_custkey"], out_col="idx"
    )
    return ranked.filter(F.col("idx") <= 3)


@_spec(
    "sort_nulls_first",
    """
    SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
    FROM customer
    ORDER BY (NULLIF(c_mktsegment, 'BUILDING') IS NOT NULL), seg, c_custkey
    """,
    "O1 multi-key sort with nulls-first trick: arrange(!is.na(x), x) "
    "(dashboard/app_data.R:47)",
)
def sort_nulls_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return cust.select("c_custkey", seg.alias("seg")).orderBy(
        F.col("seg").isNotNull().asc(), F.col("seg").asc(), F.col("c_custkey").asc()
    )


@_spec(
    "union_partitions",
    """
    SELECT o_orderstatus, COUNT(*) AS n FROM (
      SELECT o_orderstatus FROM orders WHERE o_orderstatus = 'O'
      UNION ALL
      SELECT o_orderstatus FROM orders WHERE o_orderstatus = 'F'
    ) GROUP BY o_orderstatus
    """,
    "§2.8 per-partition accumulate loop -> unionByName "
    "(election_results_etl.py:142-163)",
)
def union_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderstatus")
    # the reference's 14-county loop: N filtered frames unioned —
    # expressed as unionByName so Catalyst collapses it to one scan-union
    parts = [
        orders.filter(F.col("o_orderstatus") == s) for s in ("O", "F")
    ]
    from functools import reduce

    unioned = reduce(DataFrame.unionByName, parts)
    return unioned.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))


@_spec(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    "benchmark headline — TPC-H Q1 shape (scan-filter-agg): exercises "
    "predicate pushdown + partial aggregation; SURVEY §2.4 A1/A2 at scale",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast(aggregates.MONEY)  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            aggregates.money_sum("l_quantity").alias("sum_qty"),
            aggregates.money_sum("l_extendedprice").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast(aggregates.MONEY))
            .cast("double")
            .alias("sum_disc_price"),
            aggregates.money_avg("l_quantity").alias("avg_qty"),
            aggregates.money_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# events extensions: JSON + event-time windows (SURVEY §2.7/§2.10 notes)
# ---------------------------------------------------------------------------


@_spec(
    "events_json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
    "events.props JSON parsing extension (SURVEY §2.7 closing note): "
    "get_json_object + aggregate",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return events.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("sum_k"), F.count(F.lit(1)).alias("n")
    )


@_spec(
    "events_tumbling_window",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    "§2.10 batch analogue of event-time tumbling window: F.window(ts, "
    "'1 hour') ≡ date_trunc (streaming/ has the readStream form)",
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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
