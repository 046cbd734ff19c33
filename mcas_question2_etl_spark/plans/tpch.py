"""TPC-H-shaped benchmark queries (Q3/Q5/Q10/Q18 adapted to the
testdata's column subset) — the classic multi-join + aggregation
workload, included to demonstrate plan quality at scale:

  * dimension sides broadcast (region/nation/supplier; AQE confirms at
    runtime), fact tables never shuffled before their filters;
  * date + segment predicates push into the parquet scans;
  * revenue is the exact-DECIMAL product sum (operators/aggregates.py
    revenue_sum), so results are engine- and partitioning-identical;
  * top-k via orderBy+limit compiles to TakeOrderedAndProject — a
    per-partition heap + k-row driver merge, not a global sort.

pricing_summary (plans/relational.py) already covers the Q1 shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.aggregates import money_sum, oracle_money_sum, oracle_revenue_sum, revenue_sum
from ..registry import QuerySpec, spec_decorator

SPECS: list[QuerySpec] = []


_spec = spec_decorator(SPECS)


_REV = oracle_revenue_sum("l_extendedprice", "l_discount")


@_spec(
    "tpch_q3_shipping_priority",
    f"""
    SELECT l.l_orderkey, {_REV} AS revenue, o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    "TPC-H Q3 shape (o_shippriority -> o_orderpriority): "
    "filter-pushdown on both fact scans, customer join, grouped "
    "revenue, top-10 via TakeOrdered",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem = (
        load_table(spark, sf_dir, t) for t in ("customer", "orders", "lineitem")
    )
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .join(
            orders.filter(F.col("o_orderdate") < "1998-01-01"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            lineitem.filter(F.col("l_shipdate") > "1998-01-01"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue_sum().alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@_spec(
    "tpch_q5_local_supplier_volume",
    f"""
    SELECT n.n_name, {_REV} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
    "TPC-H Q5: 6-table star join with the 'local supplier' "
    "(c_nationkey = s_nationkey) constraint; region/nation/supplier "
    "broadcast, facts filtered before joining",
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem, supplier, nation, region = (
        load_table(spark, sf_dir, t)
        for t in ("customer", "orders", "lineitem", "supplier", "nation", "region")
    )
    dims = (
        supplier.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        orders.filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(dims),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(revenue_sum().alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@_spec(
    "tpch_q10_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name, {_REV} AS revenue, c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    "TPC-H Q10: returned-item revenue per customer, one quarter; "
    "returnflag + date predicates pushed, nation broadcast, top-20",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem, nation = (
        load_table(spark, sf_dir, t)
        for t in ("customer", "orders", "lineitem", "nation")
    )
    return (
        orders.filter(
            (F.col("o_orderdate") >= "1997-01-01")
            & (F.col("o_orderdate") < "1997-04-01")
        )
        .join(
            lineitem.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(revenue_sum().alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@_spec(
    "tpch_q18_large_volume_customer",
    f"""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           SUM(l.l_quantity) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 250
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
    "TPC-H Q18: large-volume customers via IN-subquery on a grouped "
    "HAVING — compiles to an aggregate + left-semi join; quantity sums "
    "are whole numbers stored as doubles, so SUM is exact",
)
def tpch_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem = (
        load_table(spark, sf_dir, t) for t in ("customer", "orders", "lineitem")
    )
    big_orders = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("s"))
        .filter(F.col("s") > 250)
        .select("l_orderkey")
    )
    return (
        orders.join(
            big_orders.withColumnRenamed("l_orderkey", "o_orderkey"),
            "o_orderkey",
            "leftsemi",
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias(
                "o_totalprice"
            ),
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@_spec(
    "tpch_q7_nation_volume",
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(strftime(l.l_shipdate, '%Y') AS BIGINT) AS l_year,
           {_REV} AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    "TPC-H Q7 shape: bilateral trade volume between two nations by "
    "ship year — the same dimension (nation) joins twice under "
    "different roles; both sides broadcast, the OR-pair predicate "
    "prunes after the dim joins",
)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, orders, customer, supplier, nation = (
        load_table(spark, sf_dir, t)
        for t in ("lineitem", "orders", "customer", "supplier", "nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        lineitem.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("s_nk") == F.col("s_nationkey"))
        .join(F.broadcast(cn), F.col("c_nk") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.date_format("l_shipdate", "yyyy").cast("long").alias("l_year"),
        )
        .agg(revenue_sum().alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@_spec(
    "tpch_q14_promo_revenue",
    f"""
    SELECT strftime(date_trunc('month', l.l_shipdate), '%Y-%m') AS ship_month,
           CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                    THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             * 100 AS promo_pct
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY ship_month
    ORDER BY ship_month
    """,
    "TPC-H Q14 shape: promo revenue share by ship month — conditional "
    "DECIMAL aggregate ratio; part broadcast into the fact scan",
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = (load_table(spark, sf_dir, t) for t in ("lineitem", "part"))
    dec = "decimal(18,2)"
    rev = F.col("l_extendedprice").cast(dec) * (
        F.lit(1).cast(dec) - F.col("l_discount").cast(dec)
    )
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
        F.lit(0).cast(dec)
    )
    return (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_type")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            (
                F.sum(promo).cast("double") / F.sum(rev).cast("double") * 100
            ).alias("promo_pct")
        )
        .orderBy("ship_month")
    )


@_spec(
    "correlated_above_customer_avg",
    """
    SELECT o.o_orderkey, o.o_custkey,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
    FROM orders o
    WHERE o.o_totalprice > 1.5 * (
      SELECT AVG(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    """,
    "extension — correlated scalar subquery (each order vs 1.5x its "
    "own customer's average): Spark decorrelates to a window average "
    "over ONE shuffle on the correlation key, no per-row subquery "
    "execution",
)
def correlated_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        orders.withColumn("__avg", F.avg("o_totalprice").over(w))
        .filter(F.col("o_totalprice") > 1.5 * F.col("__avg"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias(
                "o_totalprice"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Remaining TPC-H shapes (Q2/Q4/Q6/Q8/Q9/Q11/Q12/Q13/Q15/Q16/Q17/Q19/Q20/
# Q21/Q22), adapted to the testdata's column subset: there is no partsupp
# table, so the part<->supplier relationship is DERIVED from lineitem
# (ps := GROUP BY l_partkey, l_suppkey), and the commit/receipt-date and
# shipmode predicates are replaced by available columns while preserving
# each query's defining plan shape (correlated min, EXISTS/NOT EXISTS
# self-joins, scalar-subquery thresholds, disjunctive pushdown, ...).
# All money arithmetic stays in DECIMAL until the final output cast so
# both engines agree bit-for-bit.

_DEC = "decimal(18,2)"


def _dec(col: str):
    return F.col(col).cast(_DEC)


def _rev_expr():
    return _dec("l_extendedprice") * (F.lit(1).cast(_DEC) - _dec("l_discount"))


_ORACLE_REV_EXPR = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)


@_spec(
    "tpch_q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS supplycost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supplycost
    FROM part
    JOIN ps ON ps.l_partkey = p_partkey
    JOIN eu ON eu.s_suppkey = ps.l_suppkey
    WHERE p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20
      AND supplycost = (
        SELECT MIN(ps2.supplycost) FROM ps ps2
        JOIN eu eu2 ON eu2.s_suppkey = ps2.l_suppkey
        WHERE ps2.l_partkey = p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    "TPC-H Q2 shape (partsupp derived from lineitem): correlated MIN "
    "subquery over the European supply options of each part — "
    "decorrelated to a per-part window min, one shuffle on l_partkey",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    lineitem, part, supplier, nation, region = (
        load_table(spark, sf_dir, t)
        for t in ("lineitem", "part", "supplier", "nation", "region")
    )
    eu = (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # The part predicate keeps ~3% of parts — semi-join it into the
    # lineitem scan BEFORE the (l_partkey, l_suppkey) aggregation so the
    # shuffle and the per-part window only see qualifying parts' rows
    # (the correlated MIN is per-part, so pruning whole parts early is
    # semantics-preserving). At 100 TB this is the difference between
    # shuffling the whole fact table and ~3% of it.
    wanted_parts = part.filter(
        (F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 20)
    ).select("p_partkey", "p_name")
    ps = (
        lineitem.join(
            F.broadcast(wanted_parts.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "leftsemi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supplycost"))
        .join(F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        ps.withColumn("__min", F.min("supplycost").over(w))
        .filter(F.col("supplycost") == F.col("__min"))
        .join(
            F.broadcast(wanted_parts),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "supplycost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@_spec(
    "tpch_q4_priority_check",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "TPC-H Q4 shape (late-commit predicate -> returned-line predicate): "
    "EXISTS compiles to a left-semi join; order counts per priority",
)
def tpch_q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = (load_table(spark, sf_dir, t) for t in ("orders", "lineitem"))
    return (
        orders.filter(
            (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
        )
        .join(
            lineitem.filter(F.col("l_returnflag") == "R").select(
                F.col("l_orderkey").alias("o_orderkey")
            ),
            "o_orderkey",
            "leftsemi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@_spec(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6: pure scan-filter-aggregate — every predicate pushes to "
    "the parquet scan, no shuffle at all (single-partition final sum)",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("revenue")
        )
    )


@_spec(
    "tpch_q8_market_share",
    f"""
    WITH base AS (
      SELECT CAST(strftime(o_orderdate, '%Y') AS BIGINT) AS o_year,
             {_ORACLE_REV_EXPR} AS volume,
             sn.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation cn ON cn.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = cn.n_regionkey
      JOIN nation sn ON sn.n_nationkey = s_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN nation = 'NATION_6' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM base GROUP BY o_year ORDER BY o_year
    """,
    "TPC-H Q8: 8-way star join, national market share as a ratio of "
    "conditional DECIMAL sums; all dimensions broadcast, facts joined "
    "largest-last",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, lineitem, supplier, orders, customer, nation, region = (
        load_table(spark, sf_dir, t)
        for t in ("part", "lineitem", "supplier", "orders", "customer", "nation", "region")
    )
    cn = (
        nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "AMERICA")
        .select(F.col("n_nationkey").alias("c_nk"))
    )
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    vol = _rev_expr()
    return (
        lineitem.join(
            F.broadcast(part.filter(F.col("p_type") == "ECONOMY").select("p_partkey")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(
            orders.filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") <= "1997-12-31")
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("c_nk") == F.col("c_nationkey"), "leftsemi")
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("s_nk") == F.col("s_nationkey"))
        .groupBy(F.date_format("o_orderdate", "yyyy").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("nation") == "NATION_6", vol).otherwise(
                        F.lit(0).cast(_DEC)
                    )
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@_spec(
    "tpch_q9_product_profit",
    f"""
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(strftime(o_orderdate, '%Y') AS BIGINT) AS o_year,
             {_ORACLE_REV_EXPR}
             - CAST(0.1 AS DECIMAL(3,1)) * CAST(p_retailprice AS DECIMAL(18,2))
               * CAST(l_quantity AS DECIMAL(4,0)) AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON n_nationkey = s_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    "TPC-H Q9 shape (ps_supplycost -> 10% of retail price): profit by "
    "supplier nation and order year over parts matching a name pattern; "
    "DECIMAL amounts keep the sums exact",
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, lineitem, supplier, orders, nation = (
        load_table(spark, sf_dir, t)
        for t in ("part", "lineitem", "supplier", "orders", "nation")
    )
    amount = _rev_expr() - (
        F.lit(0.1).cast("decimal(3,1)")
        * _dec("p_retailprice")
        * F.col("l_quantity").cast("decimal(4,0)")
    )
    return (
        lineitem.join(
            F.broadcast(
                part.filter(F.col("p_name").like("%red%")).select(
                    "p_partkey", "p_retailprice"
                )
            ),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(orders.select("o_orderkey", "o_orderdate"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format("o_orderdate", "yyyy").cast("long").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@_spec(
    "tpch_q11_important_stock",
    f"""
    WITH ps AS (
      SELECT l_partkey, SUM({_ORACLE_REV_EXPR}) AS value_dec
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_5'
      GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(value_dec AS DOUBLE) AS value
    FROM ps
    WHERE CAST(value_dec AS DOUBLE) > (SELECT CAST(SUM(value_dec) AS DOUBLE) * 0.001 FROM ps)
    ORDER BY value DESC, l_partkey
    """,
    "TPC-H Q11 shape (partsupp value -> shipped revenue per part from "
    "one nation's suppliers): scalar-subquery threshold — the fraction "
    "of the national total — computed once and broadcast, not re-run "
    "per row",
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, supplier, nation = (
        load_table(spark, sf_dir, t) for t in ("lineitem", "supplier", "nation")
    )
    nat_supp = (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name") == "NATION_5")
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    ps = (
        lineitem.join(F.broadcast(nat_supp), "l_suppkey", "leftsemi")
        .groupBy("l_partkey")
        .agg(F.sum(_rev_expr()).alias("value_dec"))
    )
    threshold = ps.agg(
        (F.sum("value_dec").cast("double") * F.lit(0.001)).alias("__thr")
    )
    return (
        ps.crossJoin(F.broadcast(threshold))
        .filter(F.col("value_dec").cast("double") > F.col("__thr"))
        .select("l_partkey", F.col("value_dec").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), "l_partkey")
    )


@_spec(
    "tpch_q12_late_shipment_priority",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= o_orderdate + INTERVAL 30 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    "TPC-H Q12 shape (shipmode -> linestatus, receipt-lag -> 30-day "
    "ship lag): join + conditional counts; the cross-column date "
    "predicate evaluates post-scan, the constant range still pushes down",
)
def tpch_q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = (load_table(spark, sf_dir, t) for t in ("orders", "lineitem"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@_spec(
    "tpch_q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    "TPC-H Q13 (comment filter -> priority filter): two-level "
    "aggregation over an outer join — COUNT of a nullable column keeps "
    "zero-order customers; the histogram re-aggregates the counts",
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = (load_table(spark, sf_dir, t) for t in ("customer", "orders"))
    per_cust = (
        customer.select("c_custkey")
        .join(
            orders.filter(F.col("o_orderpriority") != "5-LOW").select(
                "o_custkey", "o_orderkey"
            ),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@_spec(
    "tpch_q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, SUM({_ORACLE_REV_EXPR}) AS total_rev_dec
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev_dec AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev_dec = (SELECT MAX(total_rev_dec) FROM revenue)
    ORDER BY s_suppkey
    """,
    "TPC-H Q15: top supplier by quarterly revenue — the MAX scalar "
    "subquery is computed once over the tiny post-aggregate relation "
    "(one row per supplier) and broadcast; DECIMAL equality is exact",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, supplier = (load_table(spark, sf_dir, t) for t in ("lineitem", "supplier"))
    revenue = (
        lineitem.filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_rev_expr()).alias("total_rev_dec"))
    )
    top = revenue.agg(F.max("total_rev_dec").alias("__max"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_rev_dec") == F.col("__max"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey", "s_name", F.col("total_rev_dec").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


@_spec(
    "tpch_q16_supplier_part_counts",
    """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    "TPC-H Q16 shape (partsupp -> lineitem supply pairs, complaint "
    "comment -> negative account balance): NOT IN compiles to a "
    "broadcast anti-join; COUNT(DISTINCT) is a two-phase distinct "
    "aggregate",
)
def tpch_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part, supplier = (
        load_table(spark, sf_dir, t) for t in ("lineitem", "part", "supplier")
    )
    bad = supplier.filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    parts = part.filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        lineitem.select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad), "l_suppkey", "leftanti")
        .join(F.broadcast(parts), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@_spec(
    "tpch_q17_small_quantity_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
    """,
    "TPC-H Q17: correlated per-part average-quantity subquery — "
    "decorrelated to a window average over the brand's lineitems (the "
    "correlation key restricts l2 to the same parts, so the window set "
    "is identical); quantities are whole numbers, the avg is exact",
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    lineitem, part = (load_table(spark, sf_dir, t) for t in ("lineitem", "part"))
    brand_parts = part.filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    w = Window.partitionBy("l_partkey")
    return (
        lineitem.join(
            F.broadcast(brand_parts), F.col("p_partkey") == F.col("l_partkey"), "leftsemi"
        )
        .withColumn("__avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.2 * F.col("__avg_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@_spec(
    "tpch_q19_disjunctive_revenue",
    f"""
    SELECT SUM({_ORACLE_REV_EXPR}) IS NULL AS empty,
           COALESCE(CAST(SUM({_ORACLE_REV_EXPR}) AS DOUBLE), 0.0) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    "TPC-H Q19 shape (container/shipmode terms dropped): three-way "
    "disjunctive brand/size/quantity predicate — the common p_partkey "
    "equi-key still drives a broadcast hash join, the OR evaluates "
    "post-join without blocking pushdown of the join key",
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = (load_table(spark, sf_dir, t) for t in ("lineitem", "part"))
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    rev = F.sum(_rev_expr())
    return (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .filter(cond)
        .agg(
            rev.isNull().alias("empty"),
            F.coalesce(rev.cast("double"), F.lit(0.0)).alias("revenue"),
        )
    )


@_spec(
    "tpch_q20_excess_suppliers",
    """
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name IN ('NATION_5', 'NATION_10', 'NATION_15')
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
          AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey
        HAVING SUM(l_quantity) > 50)
    ORDER BY s_name
    """,
    "TPC-H Q20 shape (availqty threshold -> shipped-quantity "
    "threshold): nested IN subqueries — part-name semi-join feeding a "
    "grouped HAVING feeding a supplier semi-join; each level stays a "
    "semi-join, never a fan-out join",
)
def tpch_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier, nation, lineitem, part = (
        load_table(spark, sf_dir, t) for t in ("supplier", "nation", "lineitem", "part")
    )
    small_parts = part.filter(F.col("p_name").like("small%")).select(
        F.col("p_partkey").alias("l_partkey")
    )
    qualified = (
        lineitem.filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(F.broadcast(small_parts), "l_partkey", "leftsemi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 50)
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    return (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_5", "NATION_10", "NATION_15"))
        .join(F.broadcast(qualified), "s_suppkey", "leftsemi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@_spec(
    "tpch_q21_waiting_suppliers",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
      AND s_nationkey = n_nationkey
      AND n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4','NATION_5')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
    "TPC-H Q21 shape (late-delivery flag -> returnflag='R'): the "
    "classic EXISTS + NOT EXISTS self-join pair on lineitem — a "
    "left-semi then left-anti join, both on the l_orderkey equi-key "
    "with the supplier-inequality as residual condition",
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier, lineitem, orders, nation = (
        load_table(spark, sf_dir, t)
        for t in ("supplier", "lineitem", "orders", "nation")
    )
    l1 = lineitem.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = lineitem.select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    l3 = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .select(
            F.col("l_orderkey").alias("l3_orderkey"),
            F.col("l_suppkey").alias("l3_suppkey"),
        )
    )
    nat = (
        nation.filter(
            F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4", "NATION_5")
        ).select("n_nationkey")
    )
    return (
        l1.join(
            orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "leftsemi",
        )
        .join(
            l2,
            (F.col("l2_orderkey") == F.col("l_orderkey"))
            & (F.col("l2_suppkey") != F.col("l_suppkey")),
            "leftsemi",
        )
        .join(
            l3,
            (F.col("l3_orderkey") == F.col("l_orderkey"))
            & (F.col("l3_suppkey") != F.col("l_suppkey")),
            "leftanti",
        )
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("s_nationkey"), "leftsemi")
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


@_spec(
    "tpch_q22_global_sales_opportunity",
    """
    WITH pool AS (
      SELECT c_custkey, c_acctbal, c_nationkey % 7 AS cntrycode
      FROM customer
      WHERE c_nationkey % 7 IN (1, 2, 3)
    ), thr AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
      FROM pool WHERE c_acctbal > 0.0
    )
    SELECT cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM pool, thr
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderpriority = '1-URGENT'
          AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
    "TPC-H Q22 shape (phone country code -> c_nationkey mod 7; "
    "no-orders -> no recent urgent orders, since every test customer "
    "has orders): scalar average threshold computed from an exact "
    "DECIMAL sum, then an anti-join against the urgent-order keys",
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = (load_table(spark, sf_dir, t) for t in ("customer", "orders"))
    pool = customer.filter((F.col("c_nationkey") % 7).isin(1, 2, 3)).select(
        "c_custkey", "c_acctbal", (F.col("c_nationkey") % 7).alias("cntrycode")
    )
    thr = pool.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count("*")).alias("avg_bal")
    )
    urgent = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderdate") >= "1999-01-01")
    ).select(F.col("o_custkey").alias("c_custkey"))
    return (
        pool.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, "c_custkey", "leftanti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )
