"""Flagship query: the daily P&L roll-up (SURVEY.md §7 Phase A).

Re-expresses EP2 — `createInvoice`/`fetchDDInvoiceData`
(/root/reference/src/DataObject.ts:110-190, src/queries.ts:53-157):
a star-schema daily roll-up of filtered multi-aggregates over a fact
table joined to dimensions, combined arithmetically into one report
row per day (avg basket, tax-inclusive scaling, residual "FRE sales",
conditional tran-type splits).

Scale notes (100 TB posture):
- single pass over the fact table: the reference's 5-query fan-out
  (`Promise.all`, src/queries.ts:56-122) collapses into one
  groupBy(date).agg(sum(when(...))...) — one shuffle, map-side partial
  aggregation, no repeated scans;
- the orders->lineitem equi-join shuffles on l_orderkey once; at real
  scale both facts would be bucketed/partitioned by orderkey-date so
  the shuffle is pruned — locally AQE handles it;
- all money arithmetic in DecimalType: exact, so the aggregate is
  order-insensitive (a parallel double-sum is not reproducible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators.materialize import compute_width
from xero_api_etl_utilities_spark.sources.parquet import load_table

# Output money convention shared with every oracle: exact decimal math,
# then round(2) and cast to double so Spark and the DuckDB oracle emit
# bit-identical values regardless of aggregation order.
DEC = "decimal(12,2)"


def money(c):
    return c.cast(DEC)


def money_out(c):
    return F.round(c, 2).cast("double")


def daily_pnl_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One report row per order date: gross/net/tax totals, return-flag
    splits (the tranType-13/14 analog, src/queries.ts:93-121), customer
    count, average basket (src/queries.ts:146), GST-inclusive taxable
    sales (totalGst*11, src/DataObject.ts:113) and the residual
    "FRE sales" derivation (src/DataObject.ts:133-138)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    li = lineitem.select(
        "l_orderkey",
        money(F.col("l_extendedprice")).alias("price"),
        money(F.col("l_discount")).alias("disc"),
        money(F.col("l_tax")).alias("tax"),
        "l_returnflag",
        "l_quantity",
    )
    od = orders.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
    )

    gross = F.col("price")
    net = F.col("price") * (F.lit(1).cast(DEC) - F.col("disc"))
    taxamt = F.col("price") * F.col("tax")

    # Two-stage rollup: pre-aggregate lineitem per order BEFORE the
    # join (map-side combinable, shrinks the join's left side ~4x and
    # makes it 1:1 on the unique o_orderkey), then roll orders up per
    # date with a single distinct (custkey). The naive single groupBy
    # after the join needs two countDistinct expansions over the full
    # join output — measurably slower and far worse at 100 TB, where
    # this shape also lets bucketed-by-orderkey storage elide the join
    # shuffle entirely.
    #
    # The fact scan is one task on a single-row-group input, so the
    # per-order partial aggregation — six decimal folds over every
    # lineitem row — ran single-threaded.
    # An explicit orderkey-keyed exchange at compute width moves the
    # heavy aggregation to full width, and the groupBy reuses the same
    # hash partitioning so no second exchange appears.  DECIMAL sums
    # are exact in any order, so the values cannot drift.
    li = compute_width(li, "l_orderkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(gross).alias("_gross"),
        F.sum(net).alias("_net"),
        F.sum(taxamt).alias("_tax"),
        # conditional splits — the tranType==13 / ==14 analog
        F.sum(F.when(F.col("l_returnflag") == "R", gross).otherwise(F.lit(0).cast(DEC))).alias("_returns"),
        F.sum(F.when(F.col("l_returnflag") == "A", gross).otherwise(F.lit(0).cast(DEC))).alias("_accepted"),
        F.sum("l_quantity").alias("_qty"),
    )
    joined = per_order.join(od, per_order.l_orderkey == od.o_orderkey, "inner")

    agg = joined.groupBy("order_date").agg(
        F.countDistinct("o_custkey").alias("customer_count"),
        F.count(F.lit(1)).alias("order_count"),
        F.sum("_gross").alias("_gross"),
        F.sum("_net").alias("_net"),
        F.sum("_tax").alias("_tax"),
        F.sum("_returns").alias("_returns"),
        F.sum("_accepted").alias("_accepted"),
        F.sum("_qty").cast("bigint").alias("total_qty"),
    )

    return (
        agg.select(
            "order_date",
            "customer_count",
            "order_count",
            money_out(F.col("_gross")).alias("total_sales"),
            money_out(F.col("_net")).alias("net_sales"),
            money_out(F.col("_tax")).alias("total_tax"),
            money_out(F.col("_returns")).alias("returned_sales"),
            money_out(F.col("_accepted")).alias("accepted_sales"),
            "total_qty",
            # avg basket: totalSales / customerCount (src/queries.ts:146).
            # Ratio computed in exact integer cents with half-up rounding
            # ((2a+n) div 2n) so Spark and the oracle agree bit-for-bit —
            # engine-native decimal/double division rounds differently.
            (
                F.expr(
                    "(2 * cast(_gross * 100 as bigint) + customer_count)"
                    " div (2 * customer_count)"
                ).cast("double")
                / F.lit(100.0)
            ).alias("avg_basket"),
            # GST-inclusive taxable sales: totalGst * 11 (src/DataObject.ts:113)
            money_out(F.col("_tax") * 11).alias("gst_sales"),
            # residual derivation à la freSales (src/DataObject.ts:133-138)
            money_out(F.col("_gross") - F.col("_returns") - F.col("_tax")).alias("fre_sales"),
        )
        .orderBy("order_date")
    )


FLAGSHIP_ORACLE = """
WITH li AS (
  SELECT
    l_orderkey,
    CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
    CAST(l_discount AS DECIMAL(12,2)) AS disc,
    CAST(l_tax AS DECIMAL(12,2)) AS tax,
    l_returnflag,
    l_quantity
  FROM lineitem
), od AS (
  SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS order_date
  FROM orders
)
SELECT
  order_date,
  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS customer_count,
  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS order_count,
  CAST(ROUND(SUM(price), 2) AS DOUBLE) AS total_sales,
  CAST(ROUND(SUM(price * (1 - disc)), 2) AS DOUBLE) AS net_sales,
  CAST(ROUND(SUM(price * tax), 2) AS DOUBLE) AS total_tax,
  CAST(ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN price ELSE CAST(0 AS DECIMAL(12,2)) END), 2) AS DOUBLE) AS returned_sales,
  CAST(ROUND(SUM(CASE WHEN l_returnflag = 'A' THEN price ELSE CAST(0 AS DECIMAL(12,2)) END), 2) AS DOUBLE) AS accepted_sales,
  CAST(SUM(l_quantity) AS BIGINT) AS total_qty,
  CAST((2 * CAST(SUM(price) * 100 AS BIGINT) + COUNT(DISTINCT o_custkey))
       // (2 * COUNT(DISTINCT o_custkey)) AS DOUBLE) / 100.0 AS avg_basket,
  CAST(ROUND(SUM(price * tax) * 11, 2) AS DOUBLE) AS gst_sales,
  CAST(ROUND(SUM(price) - SUM(CASE WHEN l_returnflag = 'R' THEN price ELSE CAST(0 AS DECIMAL(12,2)) END) - SUM(price * tax), 2) AS DOUBLE) AS fre_sales
FROM li JOIN od ON li.l_orderkey = od.o_orderkey
GROUP BY order_date
ORDER BY order_date
"""
