"""TPC-H-shaped catalog queries: the ``q<N>``, ``parts_``, ``orders_``,
``basket_`` and ``part_`` families.

The classic scan → join → aggregate → top-k shapes over the full star
schema (part, supplier, nation and region included), with the TPC-H
subquery decorrelations, plus order and basket analytics on the same
tables: market-basket pairs, triples and rules, RFM segments, cohort
lifetime value, Pareto and ABC classes.  No reference counterpart
(``src/queries.ts`` reads only the charge tables); the money and ratio
oracle conventions are those of ``plans/flagship.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.plans.flagship import DEC, money, money_out
from xero_api_etl_utilities_spark.sources.parquet import load_table


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: pricing summary by returnflag/linestatus with
    shipped-before cutoff. Single scan, one groupBy, all decimal."""
    li = load_table(spark, sf_dir, "lineitem")
    price = money(F.col("l_extendedprice"))
    disc = money(F.col("l_discount"))
    tax = money(F.col("l_tax"))
    one = F.lit(1).cast(DEC)
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("bigint").alias("sum_qty"),
            money_out(F.sum(price)).alias("sum_base_price"),
            money_out(F.sum(price * (one - disc))).alias("sum_disc_price"),
            money_out(F.sum(price * (one - disc) * (one + tax))).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


register(
    "q1_pricing_summary",
    q1_pricing_summary,
    """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
              * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
              * (1 - CAST(l_discount AS DECIMAL(12,2)))
              * (1 + CAST(l_tax AS DECIMAL(12,2)))), 2) AS DOUBLE) AS sum_charge,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 open orders by revenue for one segment —
    selective dim filter broadcast against two facts, then top-k."""
    cu = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") < F.lit("1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") > F.lit("1997-01-01")
    )
    revenue = money(F.col("l_extendedprice")) * (
        F.lit(1).cast(DEC) - money(F.col("l_discount"))
    )
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg(money_out(F.sum(revenue)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


register(
    "q3_shipping_priority",
    q3_shipping_priority,
    """
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_orderpriority,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
              * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
  AND CAST(l_shipdate AS DATE) > DATE '1997-01-01'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
""",
)


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where supplier and customer
    share the nation — the 6-table star join (lineitem ⋈ orders ⋈
    customer ⋈ supplier ⋈ nation ⋈ region), dims broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")
    revenue = money(F.col("l_extendedprice")) * (
        F.lit(1).cast(DEC) - money(F.col("l_discount"))
    )
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(na), F.col("s_nationkey") == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            money_out(F.sum(revenue)).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


register(
    "q5_local_supplier_volume",
    q5_local_supplier_volume,
    """
SELECT n_name AS nation,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
              * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
GROUP BY n_name
""",
)


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filtered-scan aggregate — every predicate
    pushes to parquet, zero joins, one partial+final sum."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate").cast("date") < F.lit("1996-01-01"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_out(F.sum(money(F.col("l_extendedprice")) * money(F.col("l_discount")))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


register(
    "q6_forecast_revenue",
    q6_forecast_revenue,
    """
SELECT
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
              * CAST(l_discount AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1996-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.04
  AND l_quantity < 24
""",
)


def parts_brand_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-dimension rollup: per-brand volume, revenue and
    retail-vs-sale delta (exercises the part table; broadcast dim)."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part")
    revenue = money(F.col("l_extendedprice"))
    retail = money(F.col("p_retailprice")) * money(F.col("l_quantity"))
    return (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum("l_quantity").cast("bigint").alias("total_qty"),
            money_out(F.sum(revenue)).alias("total_revenue"),
            money_out(F.sum(retail - revenue)).alias("retail_delta"),
            F.count_distinct("p_partkey").alias("n_parts"),
        )
    )


register(
    "parts_brand_margin",
    parts_brand_margin,
    """
SELECT p_brand,
  CAST(SUM(l_quantity) AS BIGINT) AS total_qty,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_revenue,
  CAST(ROUND(SUM(CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))
              - CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS retail_delta,
  CAST(COUNT(DISTINCT p_partkey) AS BIGINT) AS n_parts
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""",
)


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in
    one quarter — selective fact filters, broadcast customer dim,
    top-k with deterministic (revenue DESC, custkey) tie-break."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1995-10-01"))
        & (F.col("o_orderdate").cast("date") < F.lit("1996-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = money(F.col("l_extendedprice")) * (
        F.lit(1).cast(DEC) - money(F.col("l_discount"))
    )
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            money_out(F.sum(revenue)).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


register(
    "q10_returned_items",
    q10_returned_items,
    """
SELECT c_custkey, c_name, c_mktsegment,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
              * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
  AND CAST(o_orderdate AS DATE) >= DATE '1995-10-01'
  AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
GROUP BY c_custkey, c_name, c_mktsegment
ORDER BY revenue DESC, c_custkey ASC LIMIT 20
""",
)


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-type revenue share for one ship month.
    The ratio is published in integer BASIS POINTS via the catalog's
    exact-cents convention ((2·num·10⁴ + den) div (2·den) on cent
    values — half-up, no float division in the hashed output)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1995-09-01"))
        & (F.col("l_shipdate").cast("date") < F.lit("1995-10-01"))
    )
    pa = load_table(spark, sf_dir, "part")
    revenue = money(F.col("l_extendedprice")) * (
        F.lit(1).cast(DEC) - money(F.col("l_discount"))
    )
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0).cast(DEC))
    return (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .agg(F.sum(promo).alias("_promo"), F.sum(revenue).alias("_total"))
        .select(
            money_out(F.col("_promo")).alias("promo_revenue"),
            money_out(F.col("_total")).alias("total_revenue"),
            F.expr(
                "(2 * cast(_promo * 100 as bigint) * 10000 + cast(_total * 100 as bigint))"
                " div (2 * cast(_total * 100 as bigint))"
            ).alias("promo_bp"),
        )
    )


register(
    "q14_promo_revenue",
    q14_promo_revenue,
    """
WITH s AS (
  SELECT
    SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))
             ELSE 0 END) AS promo,
    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS total
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE CAST(l_shipdate AS DATE) >= DATE '1995-09-01'
    AND CAST(l_shipdate AS DATE) < DATE '1995-10-01'
)
SELECT
  CAST(ROUND(promo, 2) AS DOUBLE) AS promo_revenue,
  CAST(ROUND(total, 2) AS DOUBLE) AS total_revenue,
  (2 * CAST(promo * 100 AS BIGINT) * 10000 + CAST(total * 100 AS BIGINT))
    // (2 * CAST(total * 100 AS BIGINT)) AS promo_bp
FROM s
""",
)


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity clears a threshold
    — pre-aggregate lineitem per order (map-side combinable, the same
    two-stage discipline as the flagship), then join orders + customer
    and take the top 100 by total price."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("bigint").alias("total_qty"))
        .filter(F.col("total_qty") >= 250)
    )
    return (
        big.join(od, big.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("order_date"),
            money_out(money(F.col("o_totalprice"))).alias("total_price"),
            "total_qty",
        )
        .orderBy(F.desc("total_price"), F.asc("orderkey"))
        .limit(100)
    )


register(
    "q18_large_orders",
    q18_large_orders,
    """
WITH big AS (
  SELECT l_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) >= 250
)
SELECT c_custkey, c_name, o_orderkey AS orderkey,
  CAST(o_orderdate AS DATE) AS order_date,
  CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE) AS total_price,
  total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_price DESC, orderkey ASC LIMIT 100
""",
)


def q19_bracketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive bracket predicates spanning both
    sides of a join (brand/size on part, quantity on lineitem) — the
    classic optimizer test for OR-of-ANDs pushdown; broadcast dim keeps
    it one fact scan."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part")
    revenue = money(F.col("l_extendedprice")) * (
        F.lit(1).cast(DEC) - money(F.col("l_discount"))
    )
    brackets = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .filter(brackets)
        .agg(
            money_out(F.sum(revenue)).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )


register(
    "q19_bracketed_revenue",
    q19_bracketed_revenue,
    """
SELECT
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
              * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
""",
)


def q4_priority_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order counts by priority for orders having AT
    LEAST ONE qualifying lineitem — the canonical EXISTS, expressed as
    a LEFT SEMI join (each order emitted at most once, no post-join
    dedup; the fact side never multiplies)."""
    od = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate").cast("date") < F.lit("1996-07-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        od.join(li, od.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


register(
    "q4_priority_returns",
    q4_priority_returns,
    """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations per
    ship-year. The nation dimension joins TWICE (supplier side and
    customer side) — both copies filtered to the two-nation universe
    BEFORE the join so the inner joins prune 23/25 of the fact rows,
    then the cross-pair filter removes same-nation flows."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n1 = na.select(
        F.col("n_nationkey").alias("_s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = na.select(
        F.col("n_nationkey").alias("_c_nk"), F.col("n_name").alias("cust_nation")
    )
    revenue = money(F.col("l_extendedprice")) * (
        F.lit(1).cast(DEC) - money(F.col("l_discount"))
    )
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.col("l_shipdate").cast("date")).alias("l_year"),
        )
        .agg(money_out(F.sum(revenue)).alias("revenue"))
    )


register(
    "q7_volume_shipping",
    q7_volume_shipping,
    """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS l_year,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
              * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name, year(CAST(l_shipdate AS DATE))
""",
)


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of PROMO-part revenue into
    one region, per order-year. The share is published in integer
    basis points via the catalog's exact-cents half-up convention
    (same as q14) — no float division in the hashed output."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    pa = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    cna = na.join(F.broadcast(re), na.n_regionkey == re.r_regionkey).select(
        F.col("n_nationkey").alias("_c_nk")
    )
    revenue = money(F.col("l_extendedprice")) * (
        F.lit(1).cast(DEC) - money(F.col("l_discount"))
    )
    sna = na.select(
        F.col("n_nationkey").alias("_s_nk"), F.col("n_name").alias("_s_nation")
    )
    nation_rev = F.when(F.col("_s_nation") == "NATION_5", revenue).otherwise(
        F.lit(0).cast(DEC)
    )
    return (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .join(F.broadcast(cna), F.col("c_nationkey") == F.col("_c_nk"))
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(sna), F.col("s_nationkey") == F.col("_s_nk"))
        .groupBy(F.year(F.col("o_orderdate").cast("date")).alias("o_year"))
        .agg(F.sum(nation_rev).alias("_nat"), F.sum(revenue).alias("_tot"))
        .select(
            "o_year",
            money_out(F.col("_nat")).alias("nation_revenue"),
            money_out(F.col("_tot")).alias("total_revenue"),
            F.expr(
                "(2 * cast(_nat * 100 as bigint) * 10000 + cast(_tot * 100 as bigint))"
                " div (2 * cast(_tot * 100 as bigint))"
            ).alias("share_bp"),
        )
    )


register(
    "q8_market_share",
    q8_market_share,
    """
WITH s AS (
  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
    SUM(CASE WHEN sn.n_name = 'NATION_5'
             THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))
             ELSE 0 END) AS nat,
    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS tot
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE p_type = 'PROMO' AND r_name = 'AMERICA'
  GROUP BY year(CAST(o_orderdate AS DATE))
)
SELECT o_year,
  CAST(ROUND(nat, 2) AS DOUBLE) AS nation_revenue,
  CAST(ROUND(tot, 2) AS DOUBLE) AS total_revenue,
  (2 * CAST(nat * 100 AS BIGINT) * 10000 + CAST(tot * 100 AS BIGINT))
    // (2 * CAST(tot * 100 AS BIGINT)) AS share_bp
FROM s
""",
)


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order-year over a
    part-name substring universe. The testdata part table has no
    partsupp/ps_supplycost, so cost is proxied as 80% of
    p_retailprice — held in DECIMAL end-to-end (0.8 is a
    DECIMAL(2,1) literal, never a float) so profit is exact cents in
    both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    pa = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    cost = money(F.col("p_retailprice")) * F.expr("CAST(0.8 AS DECIMAL(2,1))")
    profit = money(F.col("l_extendedprice")) * (
        F.lit(1).cast(DEC) - money(F.col("l_discount"))
    ) - money(F.col("l_quantity")) * cost
    return (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), F.col("s_nationkey") == na.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("o_orderdate").cast("date")).alias("o_year"),
        )
        .agg(money_out(F.sum(profit)).alias("sum_profit"))
    )


register(
    "q9_product_profit",
    q9_product_profit,
    """
SELECT n_name AS nation,
  CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
  CAST(ROUND(SUM(
    CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))
    - CAST(l_quantity AS DECIMAL(12,2))
      * (CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.8 AS DECIMAL(2,1)))
  ), 2) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, year(CAST(o_orderdate AS DATE))
""",
)


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer INCLUDING
    zero-order customers — the left-outer-join + two-level aggregation
    shape (count per customer, then histogram of counts). The filter
    excludes urgent orders so some customers really do land at 0."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cu.join(od, cu.c_custkey == od.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


register(
    "q13_order_count_distribution",
    q13_order_count_distribution,
    """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) whose quarterly revenue equals
    the global max. The max is a 1-row aggregate broadcast back
    against the per-supplier revenue frame (no global window sort —
    the decorrelated form that survives a wide supplier dimension).
    Equality compares EXACT decimal sums; rounding happens only in
    the published column."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate").cast("date") < F.lit("1997-04-01"))
    )
    su = load_table(spark, sf_dir, "supplier")
    revenue = money(F.col("l_extendedprice")) * (
        F.lit(1).cast(DEC) - money(F.col("l_discount"))
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(revenue).alias("_total"))
    mx = rev.agg(F.max("_total").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), rev._total == mx._mx)
        .join(F.broadcast(su), rev.l_suppkey == su.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            money_out(F.col("_total")).alias("total_revenue"),
        )
    )


register(
    "q15_top_supplier",
    q15_top_supplier,
    """
WITH r AS (
  SELECT l_suppkey,
    SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS total
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
    AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(ROUND(total, 2) AS DOUBLE) AS total_revenue
FROM r JOIN supplier ON s_suppkey = l_suppkey
WHERE total = (SELECT MAX(total) FROM r)
""",
)


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from line items whose quantity sits
    below 20% of the part's average — the correlated-average
    decorrelated into a per-part aggregate joined back. The 20%-of-
    average comparison is INTEGER-EXACT: qty < 0.2·(sum/cnt) ⟺
    5·qty·cnt < sum on bigint cents of quantity (quantities are
    integral in the testdata), so no float threshold can disagree
    between engines. Part stats aggregate only the brand-filtered
    universe (semi-join prune before the stats pass)."""
    su_brand = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    li = load_table(spark, sf_dir, "lineitem")
    branded = li.join(
        F.broadcast(su_brand.select("p_partkey")), li.l_partkey == F.col("p_partkey")
    )
    stats = branded.groupBy(F.col("l_partkey").alias("_sp")).agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("_sq"),
    )
    return (
        branded.join(F.broadcast(stats), branded.l_partkey == F.col("_sp"))
        .filter(
            F.lit(5) * F.col("l_quantity").cast("bigint") * F.col("_cnt")
            < F.col("_sq")
        )
        .agg(
            money_out(F.sum(money(F.col("l_extendedprice")))).alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


register(
    "q17_small_qty_revenue",
    q17_small_qty_revenue,
    """
WITH b AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#11'),
s AS (
  SELECT l_partkey, COUNT(*) AS cnt, CAST(SUM(l_quantity) AS BIGINT) AS sq
  FROM lineitem JOIN b ON l_partkey = p_partkey
  GROUP BY l_partkey
)
SELECT
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS small_qty_revenue,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN s ON lineitem.l_partkey = s.l_partkey
WHERE 5 * CAST(l_quantity AS BIGINT) * cnt < sq
""",
)


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no RECENT
    orders (every testdata customer has SOME order, so dormancy is
    "no order on/after 2000-01-01"), grouped by nation. Two
    decorrelations in one query: the global scalar average becomes a
    1-row broadcast (compared EXACTLY as balance·n > sum on cents —
    no float average), and NOT EXISTS becomes a left-anti join
    against the distinct recent-order customer set."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders")
    stats = cu.filter(F.col("c_acctbal") > 0).agg(
        F.sum(money(F.col("c_acctbal"))).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    )
    recent = od.filter(F.col("o_orderdate").cast("date") >= F.lit("2000-01-01")).select(
        "o_custkey"
    )
    return (
        cu.crossJoin(F.broadcast(stats))
        .filter(money(F.col("c_acctbal")) * F.col("_n") > F.col("_s"))
        .join(recent, cu.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            money_out(F.sum(money(F.col("c_acctbal")))).alias("totacctbal"),
        )
    )


register(
    "q22_dormant_customers",
    q22_dormant_customers,
    """
WITH st AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS s, COUNT(*) AS n
  FROM customer WHERE c_acctbal > 0
),
recent AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE CAST(o_orderdate AS DATE) >= DATE '2000-01-01'
)
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS totacctbal
FROM customer, st
WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n > s
  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
GROUP BY c_nationkey
""",
)


def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (ref src/queries.ts has no analytic tier; this
    rounds out the decorrelation wave): late-shipment counts split by
    order-priority class, grouped over the line's status — the
    two-class conditional-count-after-join pattern. The testdata
    schema has no l_shipmode/l_commitdate/l_receiptdate, so the
    two-mode filter becomes the two-valued l_linestatus and "late" is
    ship-lag > 60 days against the order date. The ship-year window
    filters lineitem BEFORE the join (pushed to the scan); the
    orderkey equi-join shuffles both fact tables on the same key —
    no broadcast, both sides are fact-sized at 100 TB."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01"))
        )
        .select("l_orderkey", "l_linestatus", "l_shipdate")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .filter(
            F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
            > 60
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


register(
    "q12_shipmode_priority",
    q12_shipmode_priority,
    """
SELECT l_linestatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
  AND datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 60
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)


def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late supplier on a
    finished multi-supplier order — the classic correlated
    EXISTS + NOT-EXISTS pair over the same fact table. Decorrelated
    the scale way: ONE per-order aggregate (distinct suppliers,
    distinct LATE suppliers) replaces both self-join subqueries, and
    the whole chain — orderkey join, groupBy orderkey, stats
    join-back — stays on one hash partitioning, so Spark plans a
    single Exchange for all three steps instead of the oracle's two
    correlated re-scans. "Late" is ship-lag > 90 days (schema has no
    l_commitdate/l_receiptdate). The supplier→nation probe side is a
    broadcast dim chain, as in q7."""
    # Negative result: an explicit orderkey exchange at
    # compute width ahead of this chain measured SLOWER (warm A/B at
    # sf0.1: 1.34 → 1.7 s) — the two countDistinct aggregates already
    # exchange on the orderkey, and the extra stage outweighs the wide
    # scan-side work here.  Left on the scan partitioning.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    od = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    lines = li.join(od, li.l_orderkey == od.o_orderkey).withColumn(
        "late",
        F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
        > 90,
    )
    stats = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late_supp"),
    )
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9")
    dim = su.join(F.broadcast(na), su.s_nationkey == na.n_nationkey).select(
        "s_suppkey", "s_name"
    )
    return (
        lines.filter(F.col("late"))
        .join(stats, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


register(
    "q21_suppliers_kept_waiting",
    q21_suppliers_kept_waiting,
    """
WITH l AS (
  SELECT l_orderkey, l_suppkey,
    datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 90 AS late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM l l1
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE n_name = 'NATION_9'
  AND l1.late
  AND EXISTS (SELECT 1 FROM l l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM l l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.late)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
""",
)


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the supplier(s)
    offering the minimum cost in one region — the classic correlated
    scalar-MIN subquery, decorrelated the scale way. The testdata has
    no partsupp table, so the part↔supplier offer relation is DERIVED
    from lineitem: offer cost = MIN(l_extendedprice) per
    (l_partkey, l_suppkey) — one fact-table aggregate partitioned on
    l_partkey. The per-part minimum is a second aggregate on the SAME
    key followed by a join-back on (partkey, cost), so the whole
    min+argmin chain rides one hash partitioning of the offers frame;
    the eligible-supplier probe (supplier⋈nation⋈region) and the
    filtered part dim are broadcast. The offers frame feeds BOTH the
    per-part min and the join-back; Spark plans no ReusedExchange for
    that diamond (measured — see q11), so offers is materialized once
    ((part,supp)-cardinality, tiny next to the fact) and the min +
    join-back chain reads the checkpoint. Ties on the minimum survive
    (TPC-H semantics) and the sort is total, so output is
    deterministic. Oracle keeps the CORRELATED form, proving the
    decorrelation equivalent. Ref provenance: src/queries.ts has no
    analytic tier; this completes the 22-shape TPC-H sweep."""
    from xero_api_etl_utilities_spark.operators.materialize import materialize
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re_ = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    dim = (
        su.join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re_), na.n_regionkey == re_.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pa = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "SMALL") & F.col("p_size").isin(5, 15, 25, 35, 45)
    )
    offers = materialize(
        li.join(F.broadcast(pa.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(dim), li.l_suppkey == dim.s_suppkey)
        .groupBy("l_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min(money(F.col("l_extendedprice"))).alias("cost"))
    )
    best = (
        offers.groupBy("l_partkey")
        .agg(F.min("cost").alias("min_cost"))
        .withColumnRenamed("l_partkey", "b_partkey")
    )
    return (
        offers.join(
            F.broadcast(best),
            (offers.l_partkey == F.col("b_partkey"))
            & (offers.cost == F.col("min_cost")),
        )
        .select(
            F.round(F.col("s_acctbal"), 2).cast("double").alias("s_acctbal"),
            "s_name",
            "n_name",
            offers.l_partkey.alias("p_partkey"),
            money_out(F.col("cost")).alias("min_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


register(
    "q2_min_cost_supplier",
    q2_min_cost_supplier,
    """
WITH dim AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
),
offers AS (
  SELECT l_partkey, s_suppkey, s_name, s_acctbal, n_name,
    MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN dim ON s_suppkey = l_suppkey
  WHERE p_type = 'SMALL' AND p_size IN (5, 15, 25, 35, 45)
  GROUP BY 1, 2, 3, 4, 5
)
SELECT CAST(ROUND(s_acctbal, 2) AS DOUBLE) AS s_acctbal, s_name, n_name,
  l_partkey AS p_partkey, CAST(ROUND(cost, 2) AS DOUBLE) AS min_cost
FROM offers o1
WHERE cost = (SELECT MIN(cost) FROM offers o2 WHERE o2.l_partkey = o1.l_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value for one nation's
    suppliers, kept only where the part's value exceeds a fixed
    fraction of the nation's TOTAL value — the HAVING-against-scalar-
    subquery pattern. Value is derived from lineitem (no partsupp):
    SUM(l_extendedprice) per l_partkey over NATION_3 suppliers. The
    scalar total is a second-stage re-aggregate of the per-part sums
    broadcast back as a 1-row frame; the threshold compare is decimal
    cross-multiplied (value * 1000 > total) so no division ever runs.

    Two scale decisions this query pins down (measured, PLANS.md):
    Spark does NOT reuse the per-part aggregate exchange between the
    total branch and the output branch (no ReusedExchange even
    pre-AQE), so the naive lazy form scans the 100 TB fact TWICE —
    the per-part frame is therefore materialized (part-cardinality
    rows, tiny next to the fact) and both branches read the
    checkpoint. The total itself becomes a 1-row driver scalar
    embedded as a filter literal — the same documented pattern as the
    quality gates and convergence checks (a join attach either
    nested-loops a conditionless 1-row build or constant-folds an
    equi-key away back to the nested loop; the literal keeps the
    output branch a pure zero-shuffle filter over the checkpoint).
    Oracle uses the scalar subquery form."""
    from xero_api_etl_utilities_spark.operators.materialize import materialize

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    su = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 3)
    per_part = materialize(
        li.join(F.broadcast(su.select("s_suppkey")), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(money(F.col("l_extendedprice"))).alias("val"))
    )
    # 1-row driver-side scalar over the ALREADY-materialized aggregate
    # (exact Decimal survives the round-trip into the literal)
    total = per_part.agg(F.sum("val").alias("total")).collect()[0]["total"]
    return (
        per_part.filter(F.col("val") * 1000 > F.lit(total))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            money_out(F.col("val")).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


register(
    "q11_important_stock",
    q11_important_stock,
    """
WITH v AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS val
  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
  WHERE s_nationkey = 3
  GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, CAST(ROUND(val, 2) AS DOUBLE) AS part_value
FROM v
WHERE val * 1000 > (SELECT SUM(val) FROM v)
ORDER BY part_value DESC, p_partkey
""",
)


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can furnish parts
    of each (brand, type, size) combo, excluding a complaints-flagged
    supplier set — the NOT-IN-subquery + COUNT-DISTINCT-after-join
    pattern. The part↔supplier relation is the distinct
    (l_partkey, l_suppkey) projection of lineitem; NOT IN lowers to a
    broadcast LEFT ANTI join (the exclusion list is provably
    null-free, so anti-join semantics match NOT IN exactly); the part
    attribute filter is a broadcast dim. The only fact-sized shuffle
    is the final count-distinct aggregate, keyed on the 3-part group —
    distinct (part,supp) pairs are first collapsed map-side."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    pa = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 14, 19, 23, 36)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_name").like("%7"))
        .select("s_suppkey")
    )
    return (
        li.join(
            F.broadcast(pa.select("p_partkey", "p_brand", "p_type", "p_size")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


register(
    "q16_supplier_part_counts",
    q16_supplier_part_counts,
    """
SELECT p_brand, p_type, p_size,
  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)


def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: name the suppliers in one nation whose
    shipments of a part family concentrate in the target year — the
    nested semi-join chain (supplier IN … partkey IN … correlated
    quantity threshold). Without partsupp, "excess stock" is re-read
    off lineitem itself: a (l_partkey, l_suppkey) pair qualifies when
    its 1997-shipped quantity exceeds half its all-time quantity.
    Both quantities come from ONE conditional aggregate over a single
    fact scan (never two correlated re-scans, which is how the oracle
    states it); the compare is integer cross-multiplied (2*q97 >
    total). Qualifying pairs collapse to distinct suppkeys (tiny) and
    semi-join the broadcast nation-filtered supplier dim."""
    pa = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    q97 = F.when(
        F.year(F.col("l_shipdate").cast("date")) == 1997, F.col("l_quantity")
    ).otherwise(F.lit(0.0))
    qualifying = (
        li.join(F.broadcast(pa.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(q97).cast("bigint").alias("q_1997"),
            F.sum("l_quantity").cast("bigint").alias("q_total"),
        )
        .filter(F.lit(2) * F.col("q_1997") > F.col("q_total"))
        .select("l_suppkey")
        .distinct()
    )
    su = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 7)
    return (
        su.join(qualifying, su.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_name", F.round(F.col("s_acctbal"), 2).cast("double").alias("s_acctbal"))
        .orderBy("s_name")
    )


register(
    "q20_excess_stock_suppliers",
    q20_excess_stock_suppliers,
    """
SELECT s_name, CAST(ROUND(s_acctbal, 2) AS DOUBLE) AS s_acctbal
FROM supplier
WHERE s_nationkey = 7
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE 'small%'
    GROUP BY l_partkey, l_suppkey
    HAVING 2 * CAST(SUM(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1997
                             THEN l_quantity ELSE 0 END) AS BIGINT)
           > CAST(SUM(l_quantity) AS BIGINT)
  )
ORDER BY s_name
""",
)


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top-20 part PAIRS appearing in
    the same order. The pair join is a self equi-join ON THE ORDER KEY
    — quadratic only within one order (baskets are bounded, ~7 line
    items, so per-key fan-out is ≤ ~21 pairs regardless of table
    size; the global shape stays linear). Dedup to distinct
    (order, pair) first so a part appearing twice in an order cannot
    double-count support."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # an orderkey-keyed exchange at compute
    # width replaces the distinct's own exchange and is reused by the
    # pair self-join on the same key (the co_edges pattern) — the
    # dedup and the within-order pair fan-out run wide off ONE
    # exchange instead of the single-task scan (warm A/B at sf0.1:
    # ~1.9-2.0 → ~1.55 s).  Integer support counts only.
    from xero_api_etl_utilities_spark.operators.materialize import (
        compute_width,
    )

    items = compute_width(li, "l_orderkey").dropDuplicates()
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.desc("support"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


register(
    "basket_part_pairs",
    basket_part_pairs,
    """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
  CAST(COUNT(*) AS BIGINT) AS support
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY a.l_partkey, b.l_partkey
ORDER BY support DESC, part_a ASC, part_b ASC LIMIT 20
""",
)


def part_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2-D SKYLINE operator (Borzsony/Kossmann's
    classic, absent from every SQL dialect): parts no other part
    dominates — cheaper AND bigger. Lowering: sort by (price asc,
    size desc), a point is on the frontier iff its size strictly
    exceeds every EARLIER point's size = running max over the ordered
    window (ties on price resolved toward the larger size; equal
    (price,size) duplicates keep the lowest partkey via the
    three-key total order). Integer cents/sizes only.

    100 TB shape: the running max was a global window over the
    part dimension — parts scale linearly with the corpus, the same
    single-partition class as the customer/part-grain rank windows
    killed this round.  Now the decomposed global EXCLUSIVE prefix
    max (rankdist.global_prefix_agg_decomposed2: band = price >> 8
    ascending, sub = the low 8 price bits — monotone within a band —
    with (size desc, partkey) ties handled by the (band, sub)-local
    window); NULL prefix marks the global first row exactly as the
    window form did."""
    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_prefix_agg_decomposed2,
    )

    pa = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    banded = pa.withColumn(
        "_band", F.shiftright(F.col("price_cents"), 8)
    ).withColumn("_sub", F.col("price_cents").bitwiseAND(F.lit(255)))
    flagged = global_prefix_agg_decomposed2(
        banded,
        "_band",
        "_sub",
        [F.asc("price_cents"), F.desc("size"), F.asc("p_partkey")],
        "size",
        agg="max",
        out_name="_prev_max",
        inclusive=False,
    )
    return (
        flagged.filter(
            F.col("_prev_max").isNull() | (F.col("size") > F.col("_prev_max"))
        )
        .select("p_partkey", "price_cents", "size")
        .orderBy("price_cents", "p_partkey")
    )


register(
    "part_pareto_frontier",
    part_pareto_frontier,
    """
WITH pa AS (
  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
    CAST(p_size AS BIGINT) AS size
  FROM part
),
flagged AS (
  SELECT p_partkey, price_cents, size,
    MAX(size) OVER (ORDER BY price_cents ASC, size DESC, p_partkey ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      AS prev_max
  FROM pa
)
SELECT p_partkey, price_cents, size
FROM flagged
WHERE prev_max IS NULL OR size > prev_max
ORDER BY price_cents, p_partkey
""",
)


# ---------------------------------------------------------------------------
# year-over-year monthly growth
# ---------------------------------------------------------------------------


def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BI staple the daily/weekday diagnostics don't cover —
    monthly revenue with its YEAR-OVER-YEAR delta: each (year, month)
    row carries the same month's prior-year cents (lag-12 by month
    key), the absolute delta, and growth in bp (cross-multiplied
    integer, floor division).  Months without a prior-year partner
    (the first year) publish NULL growth rather than a fake zero.

    Shape: one orders scan -> month-grain aggregate (map-side
    combinable), one lag window PARTITIONED BY MONTH-OF-YEAR ordered
    by year — 12 partitions of ~years rows, never a global window;
    integer cents end to end.  Negative growth divides a negative
    numerator: Spark ``div`` and DuckDB ``//`` BOTH truncate toward
    zero on integers (verified: -7/2 -> -3 on each; the sf0.01 gate
    hash-matches over 33 real negative rows), so the bp value is
    engine-exact on declines too."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    monthly = (
        od.select(
            F.year(d).alias("yr"),
            F.month(d).alias("mo"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("yr", "mo")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    w = Window.partitionBy("mo").orderBy("yr")
    prior = F.lag("rev_cents").over(w)
    prior_yr = F.lag("yr").over(w)
    # a gap year breaks the YoY pair: only an ADJACENT prior year counts
    prev = F.when(prior_yr == F.col("yr") - 1, prior)
    return (
        monthly.withColumn("prev_cents", prev)
        .select(
            F.col("yr").cast("int").alias("yr"),
            F.col("mo").cast("int").alias("mo"),
            F.col("rev_cents").cast("bigint").alias("rev_cents"),
            F.col("prev_cents").cast("bigint").alias("prev_cents"),
            (F.col("rev_cents") - F.col("prev_cents"))
            .cast("bigint")
            .alias("delta_cents"),
            F.expr(
                "CASE WHEN prev_cents IS NULL OR prev_cents = 0 THEN NULL"
                " ELSE (rev_cents - prev_cents) * 10000 div prev_cents END"
            )
            .cast("bigint")
            .alias("growth_bp"),
        )
        .orderBy("yr", "mo")
    )


_YOY_ORACLE = """
WITH monthly AS (
  SELECT year(CAST(o_orderdate AS DATE)) AS yr,
         month(CAST(o_orderdate AS DATE)) AS mo,
         sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS rev_cents
  FROM orders GROUP BY 1, 2
), lagged AS (
  SELECT yr, mo, rev_cents,
    lag(rev_cents) OVER (PARTITION BY mo ORDER BY yr) AS prior,
    lag(yr) OVER (PARTITION BY mo ORDER BY yr) AS prior_yr
  FROM monthly
)
SELECT CAST(yr AS INT) AS yr, CAST(mo AS INT) AS mo, rev_cents,
  CASE WHEN prior_yr = yr - 1 THEN prior END::BIGINT AS prev_cents,
  (rev_cents - CASE WHEN prior_yr = yr - 1 THEN prior END)::BIGINT
    AS delta_cents,
  CASE WHEN prior_yr = yr - 1 AND prior <> 0
       THEN (rev_cents - prior) * 10000 // prior END::BIGINT AS growth_bp
FROM lagged ORDER BY yr, mo
"""

register("orders_yoy_growth", orders_yoy_growth, _YOY_ORACLE)


# ---------------------------------------------------------------------------
# Apriori frequent triples
# ---------------------------------------------------------------------------


def basket_brand_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent brand 3-itemsets across order baskets, minimum
    support RELATIVE to the order count (max(5, n_orders // 200), the
    standard fractional-minsup formulation — an absolute constant
    either empties sf0.001 or never prunes sf0.1).

    Shape is the distributed Apriori step, not the naive cube:
    baskets self-join keyed on the ORDER (quadratic only within one
    basket, ≤ C(11,2) here), pair supports aggregated, candidate
    triples generated by joining frequent (a,b)×(a,c) pairs and
    Apriori-checked against the frequent-pair set on the (b,c) edge
    BEFORE any support counting, and only surviving candidates get
    their third-edge support counted via a broadcast semi-join back
    into the per-order pair stream.  On this dense 25-brand corpus
    the pair-level prune is semantics-free (every pair is frequent —
    the oracle therefore need not model it); on a realistically
    sparse catalog it is the difference between |frequent_pairs|²
    and |items|³ candidates.  minsup is a driver literal derived
    from one count (the q11 pattern: a 1-row scalar belongs in the
    plan as a literal, not as a nested-loop join)."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    n_orders = load_table(spark, sf_dir, "orders").count()
    minsup = max(5, n_orders // 200)

    basket = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    a, b2 = basket.alias("a"), basket.alias("b")
    pair_stream = a.join(
        b2, (F.col("a.o") == F.col("b.o")) & (F.col("a.b") < F.col("b.b"))
    ).select(F.col("a.o").alias("o"), F.col("a.b").alias("b1"), F.col("b.b").alias("b2"))
    freq_pairs = (
        pair_stream.groupBy("b1", "b2")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= minsup)
        .select("b1", "b2")
    )
    # candidate C3: (a,b)+(a,c) with b<c, Apriori-pruned on edge (b,c)
    fp1, fp2 = freq_pairs.alias("p"), freq_pairs.alias("q")
    cand = (
        fp1.join(fp2, (F.col("p.b1") == F.col("q.b1")) & (F.col("p.b2") < F.col("q.b2")))
        .select(
            F.col("p.b1").alias("b1"),
            F.col("p.b2").alias("b2"),
            F.col("q.b2").alias("b3"),
        )
        .join(
            freq_pairs.select(
                F.col("b1").alias("b2"), F.col("b2").alias("b3")
            ),
            ["b2", "b3"],
            "left_semi",
        )
    )
    # support count: extend the per-order pair stream by the third
    # member (order-keyed equi-join again), keep candidates only.
    third = basket.select(F.col("o").alias("o3"), F.col("b").alias("b3"))
    tri_stream = (
        pair_stream.join(
            third, (F.col("o") == F.col("o3")) & (F.col("b2") < F.col("b3"))
        )
        .select("b1", "b2", "b3")
        .join(F.broadcast(cand), ["b1", "b2", "b3"], "left_semi")
    )
    return (
        tri_stream.groupBy("b1", "b2", "b3")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= minsup)
        .orderBy(F.desc("support"), "b1", "b2", "b3")
    )


def _triples_oracle() -> str:
    return """
WITH basket AS MATERIALIZED (
  -- MATERIALIZED: DuckDB 1.0 inlines the CTE at every self-join
  -- reference, re-running (and at sf0.1 join-reordering into a ~229 s
  -- plan) the lineitem x part join per reference; materialized it is
  -- a sub-second per-order enumeration.
  SELECT DISTINCT l_orderkey AS o, p_brand AS b
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
thr AS (SELECT GREATEST(5, COUNT(*) // 200) AS minsup FROM orders),
tri AS (
  SELECT a.b AS b1, b.b AS b2, c.b AS b3, CAST(COUNT(*) AS BIGINT) AS support
  FROM basket a
  JOIN basket b ON a.o = b.o AND a.b < b.b
  JOIN basket c ON a.o = c.o AND b.b < c.b
  GROUP BY 1, 2, 3
)
SELECT b1, b2, b3, support FROM tri, thr
WHERE support >= minsup
ORDER BY support DESC, b1, b2, b3
"""


register("basket_brand_triples", basket_brand_triples, _triples_oracle)


# ---------------------------------------------------------------------------
# ABC classification (cumulative-share inventory classes)
# ---------------------------------------------------------------------------


def part_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory ABC analysis — parts ranked by revenue, class A
    while the INCLUSIVE cumulative share is ≤ 80%, B to 95%, C rest,
    thresholds tested by integer cross-multiplication (cum·100 ≤
    total·80) so no share is ever a float.  (revenue DESC, partkey)
    is a total order so the running sum is engine-exact.

    100 TB shape: the running sum was a global window over the
    part-grain aggregate — parts scale linearly with the corpus (20M
    at sf100), the same single-partition class as the customer-grain
    RFM windows killed this round.  Now the decomposed global prefix
    sum (rankdist.global_prefix_agg_decomposed2, the
    ``agg_revenue_concentration`` descending
    orientation: band = cents >> 18 descending, sub = inverted middle
    cents bits); the 1-row total rides a broadcast cross join instead
    of a second global window.  Census output: class, n_parts, class
    revenue and exact-bp share of total."""
    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_prefix_agg_decomposed2,
    )

    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents")
    )
    total = per_part.agg(F.sum("cents").cast("bigint").alias("total"))
    banded = per_part.withColumn(
        "_band", F.shiftright(F.col("cents"), 18)
    ).withColumn(
        "_sub",
        F.lit(1023) - F.shiftright(F.col("cents"), 8).bitwiseAND(F.lit(1023)),
    )
    classed = global_prefix_agg_decomposed2(
        banded,
        "_band",
        "_sub",
        [F.desc("cents"), F.asc("l_partkey")],
        "cents",
        agg="sum",
        out_name="cum",
        inclusive=True,
        descending_bands=True,
    ).crossJoin(F.broadcast(total)).withColumn(
        "abc_class",
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("class_cents"),
            F.max("total").alias("_total"),
        )
        .select(
            "abc_class",
            "n_parts",
            "class_cents",
            F.expr("10000 * class_cents div _total").alias("share_bp"),
        )
        .orderBy("abc_class")
    )


register(
    "part_abc_classification",
    part_abc_classification,
    """
WITH per_part AS (
  SELECT l_partkey,
    SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
  FROM lineitem GROUP BY l_partkey
),
classed AS (
  SELECT l_partkey, cents,
    SUM(cents) OVER (ORDER BY cents DESC, l_partkey ASC
                     ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(cents) OVER () AS total
  FROM per_part
)
SELECT
  CASE WHEN cum * 100 <= total * 80 THEN 'A'
       WHEN cum * 100 <= total * 95 THEN 'B'
       ELSE 'C' END AS abc_class,
  CAST(COUNT(*) AS BIGINT) AS n_parts,
  CAST(SUM(cents) AS BIGINT) AS class_cents,
  CAST((10000 * SUM(cents)) // MAX(total) AS BIGINT) AS share_bp
FROM classed
GROUP BY 1 ORDER BY abc_class
""",
)


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------


def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The marketing-analytics classic — customers quartiled on
    Recency (days since last order, vs the corpus' newest order day),
    Frequency (order count) and Monetary (total cents), composed into
    a 3-digit segment code (r·100 + f·10 + m, quartiles 1..4) and
    published as the segment census.  NTILE over a tied metric splits
    ties by ROW ORDER — engine-dependent unless the ORDER BY is a
    total order — so every quartile ranks over (metric, custkey);
    with the tie-break the assignment is exact in any engine, no
    float quantile anywhere.

    100 TB shape: the three quartiles were global NTILE windows —
    the customer frame (15M rows at sf100) would serialize onto ONE
    partition.  Each is now the band-decomposed rank
    (operators/rankdist.global_rank_decomposed2, the
    ``diag_quality_deciles_dist`` lowering)
    + closed-form NTILE, bit-identical to the engine's NTILE over the
    same total order.  Bands are the metric itself for the massively
    tied small-domain metrics (recency days, order count — bounded
    distinct values regardless of frame size) and cents >> 18 for the
    near-unique monetary total; the sub level (custkey >> k sized to
    <2^10 from the collected max key, or middle cents bits) keeps
    every window partition bounded by the sub width, never the frame.
    The only SinglePartition exchange left is the 1-row customer-count
    merge feeding the closed-form NTILE."""
    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_rank_decomposed2,
        ntile_closed_form,
    )

    od = load_table(spark, sf_dir, "orders")
    head = od.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("d"),
        F.max("o_custkey").alias("mk"),
    ).collect()[0]
    anchor, maxck = head["d"], int(head["mk"])
    kshift = max(0, maxck.bit_length() - 10)  # custkey >> kshift < 1024
    per_cust = od.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(anchor.isoformat()).cast("date"),
            F.max(F.col("o_orderdate").cast("date")),
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    total = per_cust.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    from xero_api_etl_utilities_spark.operators.materialize import materialize

    # materialize ONCE: the fused rank below reads this frame in three
    # union branches plus histograms — cheap cached re-reads instead
    # of re-aggregations of the fact table
    base = materialize(
        per_cust.crossJoin(F.broadcast(total)).withColumn(
            "_ck_sub", F.shiftright(F.col("o_custkey"), kshift)
        )
    )

    # the migration-query trick generalized: the three quartiles
    # were three independent rank pipelines over the same frame; a
    # metric TAG now rides a 3x union through ONE
    # group_cols=['_tag'] decomposed rank (one window exchange over 3N
    # customer-grain rows, one histogram family, two broadcast
    # join-backs) and a customer-grain pivot reassembles (r, f, m).
    # Recency quartile 4 = most recent, so its metric is NEGATED
    # recency (asc(-recency) == desc(recency), same custkey
    # tie-break); each tag's band stays a pure coarsening of its
    # (metric, custkey) order.
    variants = [
        (
            0,
            (-F.col("recency_days")).cast("long"),
            F.col("_ck_sub").cast("long"),
            (-F.col("recency_days")).cast("long"),
        ),
        (
            1,
            F.col("frequency").cast("long"),
            F.col("_ck_sub").cast("long"),
            F.col("frequency").cast("long"),
        ),
        (
            2,
            F.shiftright(F.col("monetary_cents"), 18),
            F.shiftright(F.col("monetary_cents"), 8).bitwiseAND(F.lit(1023)),
            F.col("monetary_cents"),
        ),
    ]
    tagged = None
    for tag, band, sub, metric in variants:
        v = base.select(
            "o_custkey",
            "_n",
            F.lit(tag).alias("_tag"),
            band.alias("_band"),
            sub.alias("_sub"),
            metric.alias("_metric"),
        )
        tagged = v if tagged is None else tagged.unionByName(v)
    ranked = global_rank_decomposed2(
        tagged,
        "_band",
        "_sub",
        [F.asc("_metric"), F.asc("o_custkey")],
        rank_name="_gr",
        group_cols=["_tag"],
    )
    quarts = ranked.select(
        "o_custkey",
        "_tag",
        ntile_closed_form(F.col("_gr"), F.col("_n"), 4).cast("int").alias("_q"),
    )
    pivot = quarts.groupBy("o_custkey").agg(
        F.max(F.when(F.col("_tag") == 0, F.col("_q"))).alias("_rq"),
        F.max(F.when(F.col("_tag") == 1, F.col("_q"))).alias("_fq"),
        F.max(F.when(F.col("_tag") == 2, F.col("_q"))).alias("_mq"),
    )
    seg = base.select("o_custkey", "monetary_cents").join(
        pivot, "o_custkey"
    ).select(
        "o_custkey",
        "monetary_cents",
        (F.col("_rq") * 100 + F.col("_fq") * 10 + F.col("_mq")).alias(
            "segment"
        ),
    )
    return (
        seg.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_cents").alias("segment_cents"),
        )
        .orderBy("segment")
    )


register(
    "orders_rfm_segments",
    orders_rfm_segments,
    """
WITH anchor AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d FROM orders),
per_cust AS (
  SELECT o_custkey,
    CAST((SELECT d FROM anchor) - MAX(CAST(o_orderdate AS DATE)) AS BIGINT)
      AS recency_days,
    CAST(COUNT(*) AS BIGINT) AS frequency,
    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_cents
  FROM orders GROUP BY o_custkey
),
quartiled AS (
  SELECT o_custkey, monetary_cents,
    NTILE(4) OVER (ORDER BY recency_days DESC, o_custkey ASC) * 100
    + NTILE(4) OVER (ORDER BY frequency ASC, o_custkey ASC) * 10
    + NTILE(4) OVER (ORDER BY monetary_cents ASC, o_custkey ASC) AS segment
  FROM per_cust
)
SELECT CAST(segment AS INTEGER) AS segment,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
FROM quartiled
GROUP BY segment ORDER BY segment
""",
)


# ---------------------------------------------------------------------------
# association rules (support / confidence / lift, integer-exact)
# ---------------------------------------------------------------------------


def basket_brand_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules a→b over order baskets with the
    full classic metric triple — support, confidence, lift — kept
    integer-exact in basis points (lift_bp = 10000·N·sup(ab) div
    (sup(a)·sup(b)); >10000 means positive association).  Same
    relative minsup as the triples query.  Shape: the order-keyed
    basket self-join for pair supports (quadratic only within one
    basket), two broadcast joins against the 25-row per-brand support
    dim, no window.  Directed rules are emitted for both directions
    (confidence is asymmetric)."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    n_orders = load_table(spark, sf_dir, "orders").count()
    minsup = max(5, n_orders // 200)
    basket = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    a, b2 = basket.alias("a"), basket.alias("b")
    sup2 = (
        a.join(b2, (F.col("a.o") == F.col("b.o")) & (F.col("a.b") != F.col("b.b")))
        .groupBy(
            F.col("a.b").alias("antecedent"), F.col("b.b").alias("consequent")
        )
        .agg(F.count(F.lit(1)).alias("sup_ab"))
        .filter(F.col("sup_ab") >= minsup)
    )
    sup1 = basket.groupBy("b").agg(F.count(F.lit(1)).alias("s"))
    return (
        sup2.join(
            F.broadcast(sup1.select(F.col("b").alias("antecedent"), F.col("s").alias("sup_a"))),
            "antecedent",
        )
        .join(
            F.broadcast(sup1.select(F.col("b").alias("consequent"), F.col("s").alias("sup_b"))),
            "consequent",
        )
        .select(
            "antecedent",
            "consequent",
            "sup_ab",
            F.expr("10000L * sup_ab div " + str(n_orders)).alias("support_bp"),
            F.expr("10000L * sup_ab div sup_a").alias("confidence_bp"),
            # long literals: 10000 * n_orders as INT literals overflowed
            # int32 under ANSI at the 10x probe scale (n_orders 1.5M)
            # before ever touching the long sup_ab column
            F.expr(f"10000L * {n_orders}L * sup_ab div (sup_a * sup_b)").alias(
                "lift_bp"
            ),
        )
        .orderBy(F.desc("lift_bp"), "antecedent", "consequent")
    )


register(
    "basket_brand_rules",
    basket_brand_rules,
    """
WITH basket AS MATERIALIZED (
  -- MATERIALIZED: DuckDB 1.0 inlines the CTE at every self-join
  -- reference, re-running (and at sf0.1 join-reordering into a ~229 s
  -- plan) the lineitem x part join per reference; materialized it is
  -- a sub-second per-order enumeration.
  SELECT DISTINCT l_orderkey AS o, p_brand AS b
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
             GREATEST(5, COUNT(*) // 200) AS minsup FROM orders),
sup1 AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS s FROM basket GROUP BY b),
sup2 AS (
  SELECT a.b AS antecedent, b.b AS consequent, CAST(COUNT(*) AS BIGINT) AS sup_ab
  FROM basket a JOIN basket b ON a.o = b.o AND a.b <> b.b
  GROUP BY 1, 2
)
SELECT antecedent, consequent, sup_ab,
  (10000 * sup_ab) // nn AS support_bp,
  (10000 * sup_ab) // sa.s AS confidence_bp,
  (10000 * nn * sup_ab) // (sa.s * sb.s) AS lift_bp
FROM sup2
JOIN sup1 sa ON sa.b = antecedent
JOIN sup1 sb ON sb.b = consequent, n
WHERE sup_ab >= minsup
ORDER BY lift_bp DESC, antecedent, consequent
""",
)


# ---------------------------------------------------------------------------
# RFM monetary-quartile migration matrix (period-over-period)
# ---------------------------------------------------------------------------

_RFM_SPLIT_DATE = "1995-06-30"


def orders_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period customer-value MIGRATION — the
    composition query on top of ``orders_rfm_segments``'s quartile machinery: customers
    are monetary-quartiled separately in the first and second halves
    of the order history (split at a fixed calendar date, so the
    report means the same thing run over run) and the census counts
    every (old quartile -> new quartile) cell, with quartile 0
    standing for "absent in that half" — the top row is new-customer
    acquisition, the left column is churn, the diagonal is stability:
    the migration matrix every retention team reads.

    Exactness: quartiles rank over (cents, custkey) total orders (the
    ``orders_rfm_segments`` rule); the halves join FULL OUTER on custkey with quartile 0
    via coalesce.  Shape: two order scans (one per half — the date
    predicate pushes to parquet), two customer-grain aggregates, one
    full-outer join on the customer dimension, one 25-cell census.

    100 TB shape: each half's quartile was a global NTILE window
    over the customer frame — single-partition at scale; the rewire
    replaced that with the band-decomposed rank (operators/rankdist,
    the ``orders_rfm_segments``/``diag_quality_deciles_dist`` lowering: band =
    cents >> 18, sub = middle cents
    bits, both pure coarsenings of the (cents, custkey) order) +
    closed-form NTILE.  The two halves no
    longer run one band-stats pipeline each — a half TAG rides the
    customer grain through ONE ``group_cols=['_half']`` rank pass
    (one window exchange, one histogram family, per-half totals from
    one 2-row aggregate), and the old full-outer half-join collapses
    into a customer-grain pivot aggregate.  No SinglePartition
    exchange remains: the per-half totals are a 2-group hash
    aggregate on ``_half`` feeding a broadcast exchange (the
    explain_audit check for this query asserts zero
    SinglePartition exchanges)."""
    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_rank_decomposed2,
        ntile_closed_form,
    )

    od = load_table(spark, sf_dir, "orders")
    split = F.lit(_RFM_SPLIT_DATE).cast("date")

    per_cust = (
        od.select(
            "o_custkey",
            F.when(F.col("o_orderdate").cast("date") <= split, 0)
            .otherwise(1)
            .alias("_half"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("_c"),
        )
        .groupBy("_half", "o_custkey")
        .agg(F.sum("_c").alias("_cents"))
    )
    totals = per_cust.groupBy("_half").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    ranked = global_rank_decomposed2(
        per_cust.withColumn(
            "_band", F.shiftright(F.col("_cents"), 18)
        ).withColumn(
            "_sub", F.shiftright(F.col("_cents"), 8).bitwiseAND(F.lit(1023))
        ),
        "_band",
        "_sub",
        [F.asc("_cents"), F.asc("o_custkey")],
        rank_name="_gr",
        group_cols=["_half"],
    ).join(F.broadcast(totals), "_half")
    quart = ranked.select(
        "_half",
        "o_custkey",
        ntile_closed_form(F.col("_gr"), F.col("_n"), 4).cast("int").alias("_q"),
    )
    joined = quart.groupBy("o_custkey").agg(
        F.coalesce(
            F.max(F.when(F.col("_half") == 0, F.col("_q"))), F.lit(0)
        ).alias("m_old"),
        F.coalesce(
            F.max(F.when(F.col("_half") == 1, F.col("_q"))), F.lit(0)
        ).alias("m_new"),
    )
    return (
        joined.groupBy("m_old", "m_new")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(
            F.col("m_old").cast("int").alias("m_old"),
            F.col("m_new").cast("int").alias("m_new"),
            "n_customers",
        )
        .orderBy("m_old", "m_new")
    )


_RFM_MIGRATION_ORACLE = f"""
WITH old_h AS (
  SELECT o_custkey,
    ntile(4) OVER (ORDER BY sum(CAST(round(o_totalprice * 100) AS BIGINT)) ASC,
                   o_custkey ASC) AS m_old
  FROM orders WHERE CAST(o_orderdate AS DATE) <= DATE '{_RFM_SPLIT_DATE}'
  GROUP BY o_custkey
), new_h AS (
  SELECT o_custkey,
    ntile(4) OVER (ORDER BY sum(CAST(round(o_totalprice * 100) AS BIGINT)) ASC,
                   o_custkey ASC) AS m_new
  FROM orders WHERE CAST(o_orderdate AS DATE) > DATE '{_RFM_SPLIT_DATE}'
  GROUP BY o_custkey
)
SELECT CAST(coalesce(m_old, 0) AS INT) AS m_old,
       CAST(coalesce(m_new, 0) AS INT) AS m_new,
       count(*)::BIGINT AS n_customers
FROM old_h FULL OUTER JOIN new_h USING (o_custkey)
GROUP BY 1, 2
ORDER BY m_old, m_new
"""

register("orders_rfm_migration", orders_rfm_migration, _RFM_MIGRATION_ORACLE)


# ---------------------------------------------------------------------------
# cohort lifetime-value matrix
# ---------------------------------------------------------------------------


def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort LTV triangle — customers grouped by
    first-order month, each cohort's per-month activity, revenue, and
    CUMULATIVE revenue per founding member: the acquisition-payback
    table every growth team reads next to the retention matrix
    (``events_cohort_retention`` is the activity sibling; this is the
    money one).  All integer cents; LTV = cumulative cents ``div``
    cohort size, so the hash is exact.

    Shape: one customer-grain first-order aggregate, one
    customer-keyed equi-join back to the fact (AQE broadcasts the
    first-order side when small; stays a shuffled equi-join at 100
    TB), one (cohort, month) aggregate, then a cohort-partitioned
    running sum over the cohort×month triangle — a dimension-sized
    frame (~84×84 at any corpus size: partitions bounded by the
    calendar, never the data)."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("_m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("_cents"),
    )
    first = od.groupBy("o_custkey").agg(F.min("_m").alias("cohort"))
    monthnum = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    cells = (
        od.join(first, "o_custkey")
        .withColumn("months_since", monthnum(F.col("_m")) - monthnum(F.col("cohort")))
        .groupBy("cohort", "months_since")
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.sum("_cents").alias("revenue_cents"),
        )
    )
    sizes = cells.filter(F.col("months_since") == 0).select(
        "cohort", F.col("n_active").alias("_csize")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("months_since")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.withColumn("cum_revenue_cents", F.sum("revenue_cents").over(w))
        .join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            F.col("months_since").cast("int").alias("months_since"),
            F.col("n_active").cast("bigint").alias("n_active"),
            F.col("revenue_cents").cast("bigint").alias("revenue_cents"),
            F.col("cum_revenue_cents").cast("bigint").alias(
                "cum_revenue_cents"
            ),
            F.expr("cum_revenue_cents div _csize")
            .cast("bigint")
            .alias("cum_ltv_cents"),
        )
        .orderBy("cohort", "months_since")
    )


register(
    "orders_cohort_ltv",
    orders_cohort_ltv,
    """
WITH od AS (
  SELECT o_custkey,
    date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), first AS (
  SELECT o_custkey, min(m) AS cohort FROM od GROUP BY o_custkey
), cells AS (
  SELECT cohort,
    (year(m) * 12 + month(m)) - (year(cohort) * 12 + month(cohort))
      AS months_since,
    count(DISTINCT o_custkey) AS n_active,
    sum(cents) AS revenue_cents
  FROM od JOIN first USING (o_custkey)
  GROUP BY 1, 2
), cum AS (
  SELECT cohort, months_since, n_active, revenue_cents,
    sum(revenue_cents) OVER (PARTITION BY cohort ORDER BY months_since
      ROWS UNBOUNDED PRECEDING) AS cum_revenue_cents
  FROM cells
), sizes AS (
  SELECT cohort, n_active AS csize FROM cells WHERE months_since = 0
)
SELECT CAST(cohort AS DATE) AS cohort,
  CAST(months_since AS INT) AS months_since,
  CAST(n_active AS BIGINT) AS n_active,
  CAST(revenue_cents AS BIGINT) AS revenue_cents,
  CAST(cum_revenue_cents AS BIGINT) AS cum_revenue_cents,
  CAST(cum_revenue_cents // csize AS BIGINT) AS cum_ltv_cents
FROM cum JOIN sizes USING (cohort)
ORDER BY cohort, months_since
""",
)
