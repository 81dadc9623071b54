"""Aggregate and window catalog queries: the ``agg_`` and ``window_``
families.

The grouped aggregates map the reference's daily till totals and
department sales (``src/queries.ts:53-157``), its balance check
(``src/parse.ts:139-143``) and the all-rows gate
(``src/helpers.ts:188``); the rest are the grouping sets, rollups,
cubes, percentiles, exact variance, KMV distinct sketches and window
frames (rank, lag/lead, moving and equi-depth) a general engine offers.
Every hashed value is exact: decimal money, integer ratios, and
deterministic tie-breaks on every window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import h32, h32_sql
from xero_api_etl_utilities_spark.functions.scalars import lpad4
from xero_api_etl_utilities_spark.operators import events as ev
from xero_api_etl_utilities_spark.operators.materialize import materialize
from xero_api_etl_utilities_spark.operators.segmentation import segment_by_marker
from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.plans.flagship import DEC, money, money_out
from xero_api_etl_utilities_spark.sources.parquet import load_table


# --------------------------------------------------------------------------
# Aggregations (A1–A9)
# --------------------------------------------------------------------------

def agg_conditional_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A3+A4+A9: the per-type filtered sums (in-store expenses
    tranType 13, other payments tranType 14, account charges —
    src/queries.ts:93-121,125,148-149) as ONE pass of conditional
    aggregates per user."""
    e = load_table(spark, sf_dir, "events")
    val = money(F.col("value"))
    zero = F.lit(0).cast(DEC)
    return e.groupBy("user_id").agg(
        money_out(F.sum(F.when(F.col("event_type") == "purchase", val).otherwise(zero))).alias(
            "purchase_total"
        ),
        money_out(F.sum(F.when(F.col("event_type") == "error", val).otherwise(zero))).alias(
            "error_total"
        ),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchase_count"),
        F.count(F.lit(1)).alias("event_count"),
    )


register(
    "agg_conditional_sums",
    agg_conditional_sums,
    """
SELECT user_id,
  CAST(ROUND(SUM(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END), 2) AS DOUBLE) AS purchase_total,
  CAST(ROUND(SUM(CASE WHEN event_type='error' THEN CAST(value AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END), 2) AS DOUBLE) AS error_total,
  CAST(COUNT(CASE WHEN event_type='purchase' THEN 1 END) AS BIGINT) AS purchase_count,
  CAST(COUNT(*) AS BIGINT) AS event_count
FROM events GROUP BY user_id
""",
)


def agg_string_receipts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+F1+F11: the expense-receipt string aggregation
    (`"{terminal}/{seq} - {local ts}\\n"` concatenated per day,
    src/queries.ts:126-141) with EXPLICIT ordering — JS array order was
    the implicit contract; here the list is sorted so the result is
    deterministic under parallelism."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    line = F.concat(
        F.col("event_type"), F.lit("/"), lpad4(F.col("event_id")),
        F.lit(" - "), F.date_format(F.col("ts"), "dd/MM/yyyy, HH:mm:ss"),
    )
    return e.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_list(line)), "\n").alias("receipts"),
        F.count(F.lit(1)).alias("n_receipts"),
    )


register(
    "agg_string_receipts",
    agg_string_receipts,
    """
SELECT user_id,
  string_agg(event_type || '/' || right('0000' || CAST(event_id AS VARCHAR), 4)
             || ' - ' || strftime(ts, '%d/%m/%Y, %H:%M:%S'), chr(10)
             ORDER BY event_type || '/' || right('0000' || CAST(event_id AS VARCHAR), 4)
             || ' - ' || strftime(ts, '%d/%m/%Y, %H:%M:%S')) AS receipts,
  CAST(COUNT(*) AS BIGINT) AS n_receipts
FROM events WHERE event_type = 'purchase' GROUP BY user_id
""",
)


def agg_balance_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: the per-day reconciliation balance check
    (`sum(sales)+sum(credits) === totalDebtors`, src/parse.ts:139-143):
    header totals vs computed lineitem totals per order date, with an
    `is_balanced` flag column."""
    from xero_api_etl_utilities_spark.operators.materialize import (
        compute_width,
    )

    od = load_table(spark, sf_dir, "orders")
    # the broadcast join + triple-decimal partial
    # aggregation ran on the single-task lineitem scan; compute-width
    # exchange first (warm A/B at sf0.1: 1.6 → 1.2 s).  Decimal sums
    # are exact in any order.
    li = compute_width(load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    header = od.groupBy(F.col("o_orderdate").cast("date").alias("order_date")).agg(
        F.sum(money(F.col("o_totalprice"))).alias("header_total")
    )
    lines = (
        li.join(od.select("o_orderkey", "o_orderdate"), li.l_orderkey == od.o_orderkey)
        .groupBy(F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(
            F.sum(
                money(F.col("l_extendedprice"))
                * (F.lit(1).cast(DEC) - money(F.col("l_discount")))
                * (F.lit(1).cast(DEC) + money(F.col("l_tax")))
            ).alias("computed_total")
        )
    )
    return header.join(lines, "order_date", "left").select(
        "order_date",
        money_out(F.col("header_total")).alias("header_total"),
        money_out(F.col("computed_total")).alias("computed_total"),
        (F.round(F.col("header_total"), 2) == F.round(F.col("computed_total"), 2)).alias(
            "is_balanced"
        ),
    )


register(
    "agg_balance_check",
    agg_balance_check,
    """
WITH header AS (
  SELECT CAST(o_orderdate AS DATE) AS order_date,
         SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS header_total
  FROM orders GROUP BY 1
), lines AS (
  SELECT CAST(o_orderdate AS DATE) AS order_date,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l_discount AS DECIMAL(12,2)))
             * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS computed_total
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1
)
SELECT h.order_date,
       CAST(ROUND(h.header_total, 2) AS DOUBLE) AS header_total,
       CAST(ROUND(l.computed_total, 2) AS DOUBLE) AS computed_total,
       ROUND(h.header_total, 2) = ROUND(l.computed_total, 2) AS is_balanced
FROM header h LEFT JOIN lines l ON h.order_date = l.order_date
""",
)


def agg_all_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: `importedDays.every(day => day.isBalanced)`
    (src/helpers.ts:188) as a single bool_and over the A6 flags."""
    flags = agg_balance_check(spark, sf_dir)
    return flags.agg(
        F.bool_and(F.col("is_balanced")).alias("all_balanced"),
        F.count(F.lit(1)).alias("n_days"),
        F.count(F.when(~F.col("is_balanced"), 1)).alias("n_unbalanced"),
    )


register(
    "agg_all_balanced",
    agg_all_balanced,
    """
WITH header AS (
  SELECT CAST(o_orderdate AS DATE) AS order_date,
         SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS header_total
  FROM orders GROUP BY 1
), lines AS (
  SELECT CAST(o_orderdate AS DATE) AS order_date,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l_discount AS DECIMAL(12,2)))
             * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS computed_total
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1
), flags AS (
  SELECT ROUND(h.header_total,2) = ROUND(l.computed_total,2) AS is_balanced
  FROM header h LEFT JOIN lines l ON h.order_date = l.order_date
)
SELECT bool_and(is_balanced) AS all_balanced,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(COUNT(CASE WHEN NOT is_balanced THEN 1 END) AS BIGINT) AS n_unbalanced
FROM flags
""",
)


# --------------------------------------------------------------------------
# Windows / sorts / limits (W1, O1–O2)
# --------------------------------------------------------------------------

def window_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: marker-delimited section segmentation — the worksheet
    `"Amount"`-marker loop (src/parse.ts:81-132) as a running count
    over a row-order window, partitioned per user (per file in the
    Excel case) so segmentation parallelizes."""
    e = load_table(spark, sf_dir, "events")
    return segment_by_marker(
        e,
        is_marker=F.col("event_type") == "signup",
        order_by=["ts", "event_id"],
        partition_by=["user_id"],
    ).select("event_id", "user_id", "event_type", "section")


register(
    "window_segmentation",
    window_segmentation,
    """
SELECT event_id, user_id, event_type,
  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
       OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS INT) AS section
FROM events
""",
)


def window_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking extension (§2.5 'not present in reference; native'):
    top-3 customers by account balance per nation, deterministic
    tie-break on custkey."""
    cu = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        cu.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "c_nationkey", "c_custkey",
            money_out(money(F.col("c_acctbal"))).alias("acctbal"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


register(
    "window_rank_topk",
    window_rank_topk,
    """
SELECT c_nationkey, c_custkey,
       CAST(ROUND(CAST(c_acctbal AS DECIMAL(12,2)), 2) AS DOUBLE) AS acctbal,
       CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY c_nationkey
                               ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
  FROM customer
) WHERE rnk <= 3
""",
)


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead (§2.5 'not present in reference'): previous/next event
    type and previous timestamp per user, (ts, event_id)-ordered."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    )


register(
    "window_lag_lead",
    window_lag_lead,
    """
SELECT event_id, user_id,
       lag(event_type) OVER w AS prev_type,
       lead(event_type) OVER w AS next_type,
       lag(ts) OVER w AS prev_ts
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)


def window_moving_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-frame aggregate: 4-row trailing sum/avg-count of value
    per user (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        money_out(F.sum(money(F.col("value"))).over(w)).alias("trailing_sum"),
        F.count(F.lit(1)).over(w).alias("frame_rows"),
    )


register(
    "window_moving_frame",
    window_moving_frame,
    """
SELECT event_id, user_id,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))) OVER w, 2) AS DOUBLE) AS trailing_sum,
  CAST(COUNT(*) OVER w AS BIGINT) AS frame_rows
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""",
)


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (§2.4 'Spark provides natively'):
    year → (year, month) → grand total over order amounts."""
    od = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return (
        od.select(
            F.year(d).alias("order_year"),
            F.month(d).alias("order_month"),
            money(F.col("o_totalprice")).alias("amount"),
        )
        .rollup("order_year", "order_month")
        .agg(
            money_out(F.sum("amount")).alias("total_amount"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


register(
    "agg_rollup",
    agg_rollup,
    """
SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_year,
       CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS order_month,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_amount,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY ROLLUP (order_year, order_month)
""",
)


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping
    combinations in one pass (completes the grouping-sets family next
    to agg_rollup)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_returnflag",
            "l_linestatus",
            money(F.col("l_extendedprice")).alias("amount"),
        )
        .cube("l_returnflag", "l_linestatus")
        .agg(
            money_out(F.sum("amount")).alias("total_amount"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


register(
    "agg_cube",
    agg_cube,
    """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_amount,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quartiles/median/p90 of extended price per return flag —
    integer-cents type-7 interpolation, one double division at the end
    (operators/percentiles.py; cross-engine bit-stable by design)."""
    from xero_api_etl_utilities_spark.operators.percentiles import exact_percentiles

    li = load_table(spark, sf_dir, "lineitem")
    return exact_percentiles(
        li,
        "l_extendedprice",
        ["l_returnflag"],
        [("p25", 1, 4), ("median", 1, 2), ("p75", 3, 4), ("p90", 9, 10)],
    )


register(
    "agg_percentiles",
    agg_percentiles,
    """
WITH v AS (
  SELECT l_returnflag,
         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
  FROM lineitem
), r AS (
  SELECT l_returnflag, vc,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY vc) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM v
), a AS (
  SELECT l_returnflag, MAX(n) AS n,
    MAX(CASE WHEN rn = (1 * (n - 1)) // 4 + 1 THEN vc END) AS lo_p25,
    MAX(CASE WHEN rn = (1 * (n - 1)) // 4 + 2 THEN vc END) AS hi_p25,
    MAX(CASE WHEN rn = (1 * (n - 1)) // 2 + 1 THEN vc END) AS lo_median,
    MAX(CASE WHEN rn = (1 * (n - 1)) // 2 + 2 THEN vc END) AS hi_median,
    MAX(CASE WHEN rn = (3 * (n - 1)) // 4 + 1 THEN vc END) AS lo_p75,
    MAX(CASE WHEN rn = (3 * (n - 1)) // 4 + 2 THEN vc END) AS hi_p75,
    MAX(CASE WHEN rn = (9 * (n - 1)) // 10 + 1 THEN vc END) AS lo_p90,
    MAX(CASE WHEN rn = (9 * (n - 1)) // 10 + 2 THEN vc END) AS hi_p90
  FROM r GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_values,
  CAST(lo_p25 * (4 - (1 * (n - 1)) % 4) + coalesce(hi_p25, lo_p25) * ((1 * (n - 1)) % 4) AS DOUBLE) / 400.0 AS p25,
  CAST(lo_median * (2 - (1 * (n - 1)) % 2) + coalesce(hi_median, lo_median) * ((1 * (n - 1)) % 2) AS DOUBLE) / 200.0 AS median,
  CAST(lo_p75 * (4 - (3 * (n - 1)) % 4) + coalesce(hi_p75, lo_p75) * ((3 * (n - 1)) % 4) AS DOUBLE) / 400.0 AS p75,
  CAST(lo_p90 * (10 - (9 * (n - 1)) % 10) + coalesce(hi_p90, lo_p90) * ((9 * (n - 1)) % 10) AS DOUBLE) / 1000.0 AS p90
FROM a
""",
)


def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile quartiles, percent_rank,
    cume_dist) over order totals per priority class. The ordering key
    includes o_orderkey so ranks are total-order deterministic; the
    rank fractions are IEEE divisions of identical integers on both
    engines — bit-stable."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice"), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


register(
    "window_distribution_ranks",
    window_distribution_ranks,
    """
SELECT o_orderkey, o_orderpriority,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM orders
WHERE o_orderkey % 7 = 0
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
""",
)


def window_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) binning via NTILE: each return
    flag's line items split into 8 equal-population price bins, then
    per-bin count and [lo, hi] boundary — the histogram-building shape
    behind range-partitioner sampling and skew diagnosis. The window
    ORDER BY carries a unique (price, orderkey, linenumber) key so the
    tile assignment is total-order deterministic in both engines; one
    shuffle on the partition key, per-partition sort, then a
    map-side-combinable aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return (
        li.select(
            "l_returnflag",
            money(F.col("l_extendedprice")).alias("_price"),
            F.ntile(8).over(w).alias("price_bin"),
        )
        .groupBy("l_returnflag", "price_bin")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            money_out(F.min("_price")).alias("bin_lo"),
            money_out(F.max("_price")).alias("bin_hi"),
        )
    )


register(
    "window_equidepth_bins",
    window_equidepth_bins,
    """
WITH t AS (
  SELECT l_returnflag,
    CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
    NTILE(8) OVER (PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS price_bin
  FROM lineitem
)
SELECT l_returnflag, price_bin,
  CAST(COUNT(*) AS BIGINT) AS n_items,
  CAST(ROUND(MIN(price), 2) AS DOUBLE) AS bin_lo,
  CAST(ROUND(MAX(price), 2) AS DOUBLE) AS bin_hi
FROM t
GROUP BY l_returnflag, price_bin
""",
)


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (beyond the rollup/cube lattices): the
    two one-dimension marginals + the full cross + the grand total in
    ONE pass — Spark expands the sets into a single Expand + hash
    aggregate, not four scans. Non-grouped columns surface as NULL
    markers exactly as in agg_rollup (neither column is nullable in
    the data, so markers are unambiguous)."""
    od = load_table(spark, sf_dir, "orders")
    return (
        od.select(
            "o_orderpriority",
            "o_orderstatus",
            money(F.col("o_totalprice")).alias("amount"),
        )
        .groupingSets(
            [
                ["o_orderpriority", "o_orderstatus"],
                ["o_orderpriority"],
                ["o_orderstatus"],
                [],
            ],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            money_out(F.sum("amount")).alias("total_amount"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


register(
    "agg_grouping_sets",
    agg_grouping_sets,
    """
SELECT o_orderpriority, o_orderstatus,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_amount,
  CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                        (o_orderpriority), (o_orderstatus), ())
""",
)


def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of global revenue via an
    unpartitioned window SUM over the 25-row AGGREGATE (never over the
    fact table — the global window runs after the rollup, so the
    single-partition stage sees dimension-cardinality rows, not 100 TB
    of lineitem). Share published in integer basis points (exact-cents
    half-up convention, no float division in the hashed output)."""
    li = load_table(spark, sf_dir, "lineitem")
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders")
    na = load_table(spark, sf_dir, "nation")
    revenue = money(F.col("l_extendedprice")) * (
        F.lit(1).cast(DEC) - money(F.col("l_discount"))
    )
    per_nation = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), F.col("c_nationkey") == na.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(revenue).alias("_rev"))
    )
    # Deliberately unpartitioned: the global window runs over the
    # 25-row rollup, never the fact table. (WindowExec's per-task "No
    # Partition Defined" warning is silenced at the logger level in
    # session.get_spark — a literal partition key doesn't work, the
    # optimizer folds it back to the empty spec.)
    w = Window.partitionBy()
    return (
        per_nation.withColumn("_total", F.sum("_rev").over(w))
        .select(
            "nation",
            money_out(F.col("_rev")).alias("revenue"),
            F.expr(
                "(2 * cast(_rev * 100 as bigint) * 10000"
                " + cast(_total * 100 as bigint))"
                " div (2 * cast(_total * 100 as bigint))"
            ).alias("share_bp"),
        )
    )


register(
    "window_share_of_total",
    window_share_of_total,
    """
WITH per_nation AS (
  SELECT n_name AS nation,
    SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT nation,
  CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
  (2 * CAST(rev * 100 AS BIGINT) * 10000 + CAST(SUM(rev) OVER () * 100 AS BIGINT))
    // (2 * CAST(SUM(rev) OVER () * 100 AS BIGINT)) AS share_bp
FROM per_nation
""",
)


def agg_approx_distinct_ok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-aggregate sanity gate: per event type, the exact
    distinct-user count plus a boolean asserting the HLL++
    approx_count_distinct (rsd 2%) lands within 5% of it. At 100 TB
    the sketch is the only viable distinct count (map-side
    combinable, fixed memory); this query keeps it honest against
    the exact count while the data is small enough to have one."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.02).alias("approx"),
        )
        .select(
            "event_type",
            F.col("exact_users").cast("bigint").alias("exact_users"),
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                * 100
                <= 5 * F.col("exact_users")
            ).alias("approx_ok"),
        )
    )


register(
    "agg_approx_distinct_ok",
    agg_approx_distinct_ok,
    """
SELECT event_type,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
  TRUE AS approx_ok
FROM events GROUP BY event_type
""",
)


def agg_value_variance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population variance with NO floats anywhere — the sufficient
    statistics (n, Σx, Σx²) in integer cents / DECIMAL(38,0), published
    as the cross-multiplied pair (var_num, var_den) where
    variance = var_num / var_den = (n·Σx² − (Σx)²) / n². All three
    statistics are map-side-combinable single-pass aggregates (the
    same shape stddev_pop compiles to), but unlike the float form the
    result is order-independent and hash-verifiable digit-for-digit.
    Σx² needs DECIMAL(38,0): cents² × row-count overflows a bigint at
    sf0.1 already — exactly the overflow a 100 TB engine must plan
    for, not discover."""
    ev_ = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d38 = "decimal(38,0)"
    return (
        ev_.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast(d38).alias("n"),
            F.sum(cents.cast(d38)).alias("s"),
            F.sum((cents * cents).cast(d38)).alias("ss"),
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("s").cast("bigint").alias("sum_cents"),
            # published as VARCHAR on BOTH sides: DECIMAL(38,0) leaves
            # DuckDB's .df() as float64 ("...196.0") while Spark's
            # toPandas() keeps Decimal ("...196") — the driver hashes
            # the pandas strings, so a decimal column can never match.
            # String-typed rationals stay digit-exact at any sf.
            (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
            .cast(d38)
            .cast("string")
            .alias("var_num"),
            (F.col("n") * F.col("n")).cast(d38).cast("string").alias("var_den"),
        )
        .orderBy("event_type")
    )


register(
    "agg_value_variance_exact",
    agg_value_variance_exact,
    """
WITH st AS (
  SELECT event_type,
    COUNT(*) AS n,
    SUM(CAST(round(value * 100) AS HUGEINT)) AS s,
    SUM(CAST(round(value * 100) AS HUGEINT)
        * CAST(round(value * 100) AS HUGEINT)) AS ss
  FROM events GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS sum_cents,
  CAST(CAST(n * ss - s * s AS DECIMAL(38,0)) AS VARCHAR) AS var_num,
  CAST(CAST(CAST(n AS HUGEINT) * n AS DECIMAL(38,0)) AS VARCHAR) AS var_den
FROM st
ORDER BY event_type
""",
)


_KMV_K = 32


def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketch, fully
    hash-verified — unlike HLL (engine-internal binary), KMV is plain
    order statistics over the md5 hash space, so the DuckDB oracle
    replays the ENTIRE estimator: est = (k−1)·2³² / h_(k), integer
    division, digit-exact. Per event type: the k-th smallest
    H32(user_id), the estimate, the exact count, and the honesty
    boolean (within 30% — KMV's σ ≈ 1/√k ≈ 18% at k=32).

    Scale note (honest): the bottom-k here is a rank window over the
    DISTINCT-hash frame — fine when distinct counts fit a partition
    per group. The production path for pure counting stays
    approx_count_distinct; KMV's value is the verifiable algebra and
    that sketches UNION by taking the k smallest of the merged lists."""
    from xero_api_etl_utilities_spark.functions.crosshash import h32

    ev_ = load_table(spark, sf_dir, "events")
    hashes = ev_.select(
        "event_type", h32(F.col("user_id")).alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    kth = (
        hashes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == _KMV_K)
        .select("event_type", F.col("h").alias("kth_min"))
    )
    exact = ev_.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    est = (F.lit(_KMV_K - 1) * F.lit(2**32)).cast("long") / F.col("kth_min")
    return (
        exact.join(kth, "event_type", "left")
        .select(
            "event_type",
            "exact_users",
            F.col("kth_min").cast("bigint").alias("kth_min"),
            F.expr(f"cast({_KMV_K - 1} * 4294967296 div kth_min as bigint)").alias(
                "kmv_estimate"
            ),
        )
        .withColumn(
            "kmv_ok",
            F.abs(F.col("kmv_estimate") - F.col("exact_users")) * 100
            <= 30 * F.col("exact_users"),
        )
        .orderBy("event_type")
    )


def _kmv_oracle() -> str:
    from xero_api_etl_utilities_spark.functions.crosshash import h32_sql

    h = h32_sql("user_id")
    return f"""
WITH hashes AS (
  SELECT DISTINCT event_type, CAST({h} AS BIGINT) AS h FROM events
),
ranked AS (
  SELECT event_type, h,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS r
  FROM hashes
),
kth AS (SELECT event_type, h AS kth_min FROM ranked WHERE r = {_KMV_K}),
exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users FROM events
  GROUP BY event_type
)
SELECT exact.event_type AS event_type,
  CAST(exact_users AS BIGINT) AS exact_users,
  CAST(kth_min AS BIGINT) AS kth_min,
  CAST({_KMV_K - 1} * 4294967296 // kth_min AS BIGINT) AS kmv_estimate,
  abs({_KMV_K - 1} * 4294967296 // kth_min - exact_users) * 100
    <= 30 * exact_users AS kmv_ok
FROM exact LEFT JOIN kth ON kth.event_type = exact.event_type
ORDER BY event_type
"""


register("agg_kmv_distinct", agg_kmv_distinct, _kmv_oracle)


def agg_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from KMV sketches — the
    set-INTERSECTION algebra that makes bottom-k sketches more than
    counters: merge two audiences' sketches (k smallest of the union
    — exactly how KMV composes), count how many of those k live in
    BOTH audiences, and scale: |A∩B| ≈ (matches/k) · |A∪B|_est. All
    integer arithmetic ((matches · union_est) div k), so the oracle
    replays the whole estimator — engine-internal HLL intersection
    (inclusion-exclusion over three sketches) can only ever be
    tolerance-checked. Exact intersection + honesty boolean ride
    along (±50%: intersection estimates carry the union's relative
    error scaled by the inverse overlap fraction)."""
    from xero_api_etl_utilities_spark.functions.crosshash import h32

    ev_ = load_table(spark, sf_dir, "events")
    k = 32
    a = ev_.filter(F.col("event_type") == "purchase")
    b = ev_.filter(F.col("event_type") == "signup")
    ha = a.select(h32(F.col("user_id")).alias("h")).distinct()
    hb = b.select(h32(F.col("user_id")).alias("h")).distinct()
    merged = (
        ha.select("h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionAll(hb.select("h", F.lit(0), F.lit(1)))
        .groupBy("h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        .orderBy("h")
        .limit(k)
    )
    stats = merged.agg(
        F.max("h").alias("kth"),
        F.sum((F.col("in_a") * F.col("in_b")).cast("long")).alias("matches"),
        F.count(F.lit(1)).alias("kk"),
    )
    exact = (
        a.select("user_id")
        .intersect(b.select("user_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_overlap"))
    )
    r = stats.collect()[0]
    x = exact.collect()[0]["exact_overlap"]
    union_est = (int(r["kk"]) - 1) * (2**32) // int(r["kth"])
    est = int(r["matches"]) * union_est // int(r["kk"])
    ok = abs(est - int(x)) * 100 <= 50 * int(x)
    return spark.createDataFrame(
        [(int(x), int(r["matches"]), union_est, est, bool(ok))],
        "exact_overlap bigint, k_matches bigint, union_est bigint,"
        " est_overlap bigint, within_50pct boolean",
    )


def _kmv_overlap_oracle() -> str:
    from xero_api_etl_utilities_spark.functions.crosshash import h32_sql

    h = h32_sql("user_id")
    return f"""
WITH ha AS (
  SELECT DISTINCT CAST({h} AS BIGINT) AS h FROM events
  WHERE event_type = 'purchase'
),
hb AS (
  SELECT DISTINCT CAST({h} AS BIGINT) AS h FROM events
  WHERE event_type = 'signup'
),
merged AS (
  SELECT h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
    SELECT h, 1 AS in_a, 0 AS in_b FROM ha
    UNION ALL SELECT h, 0, 1 FROM hb) u
  GROUP BY h ORDER BY h LIMIT 32
),
stats AS (
  SELECT MAX(h) AS kth, SUM(in_a * in_b) AS matches, COUNT(*) AS kk
  FROM merged
),
exact AS (
  SELECT COUNT(*) AS x FROM (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'signup') i
)
SELECT CAST(x AS BIGINT) AS exact_overlap,
  CAST(matches AS BIGINT) AS k_matches,
  CAST((kk - 1) * 4294967296 // kth AS BIGINT) AS union_est,
  CAST(matches * ((kk - 1) * 4294967296 // kth) // kk AS BIGINT)
    AS est_overlap,
  abs(matches * ((kk - 1) * 4294967296 // kth) // kk - x) * 100 <= 50 * x
    AS within_50pct
FROM stats CROSS JOIN exact
"""


register("agg_kmv_overlap", agg_kmv_overlap, _kmv_overlap_oracle)


def agg_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 audit — what share of total revenue
    the top decile of customers carries, in exact basis points.
    Per-customer revenue (one fact aggregate), rank by (revenue desc,
    custkey), top ceil(n/10) share cross-multiplied on integer cents.
    The decile boundary is a row-count rank, not a float quantile, so
    the oracle hashes.

    100 TB shape: the rank was a global row_number window over
    the customer frame — single-partition at scale.  Now the
    band-decomposed rank (operators/rankdist: descending bands
    cents >> 18, sub = inverted middle cents bits — both coarsenings
    of the (cents DESC, custkey ASC) order), fully partitioned; the
    customer aggregate is materialized once and reused by the 1-row
    total collect and the ranked lineage."""
    od = load_table(spark, sf_dir, "orders")
    per_cust = od.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    from xero_api_etl_utilities_spark.operators.materialize import materialize
    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_rank_decomposed2,
    )

    per_cust = materialize(per_cust)
    ranked = global_rank_decomposed2(
        per_cust.withColumn(
            "_band", F.shiftright(F.col("cents"), 18)
        ).withColumn(
            "_sub",
            F.lit(1023) - F.shiftright(F.col("cents"), 8).bitwiseAND(F.lit(1023)),
        ),
        "_band",
        "_sub",
        [F.desc("cents"), F.asc("o_custkey")],
        rank_name="rnk",
        descending_bands=True,
    )
    tot = per_cust.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total")
    ).collect()[0]
    n, total = int(tot["n"]), int(tot["total"])
    top_k = (n + 9) // 10
    return ranked.filter(F.col("rnk") <= top_k).agg(
        F.lit(n).cast("bigint").alias("n_customers"),
        F.lit(top_k).cast("bigint").alias("top_decile_n"),
        F.sum("cents").cast("bigint").alias("top_decile_cents"),
        F.lit(total).cast("bigint").alias("total_cents"),
        F.expr(f"sum(cents) * 10000 div {total}").cast("bigint").alias("share_bp"),
    )


register(
    "agg_revenue_concentration",
    agg_revenue_concentration,
    """
WITH per AS (
  SELECT o_custkey, SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rnk
  FROM per
),
tot AS (SELECT COUNT(*) AS n, SUM(cents) AS total FROM per)
SELECT CAST(n AS BIGINT) AS n_customers,
  CAST((n + 9) // 10 AS BIGINT) AS top_decile_n,
  CAST(SUM(cents) AS BIGINT) AS top_decile_cents,
  CAST(total AS BIGINT) AS total_cents,
  CAST(SUM(cents) * 10000 // total AS BIGINT) AS share_bp
FROM ranked CROSS JOIN tot
WHERE rnk <= (n + 9) // 10
GROUP BY n, total
""",
)


# ------------------------------------------------- winsorized aggregate

def agg_winsorized_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust-statistics staple: per-returnflag revenue with values
    CLIPPED at the nearest-rank P05/P95 (winsorization — the standard
    way to report a mean that one fat-finger price cannot move).
    All integer: cents ranks via row_number, bounds at ranks
    ceil(n/20) and ceil(19n/20), clipped sum in BIGINT cents, mean via
    the exact (2s+n) div 2n half-up convention. One shuffle on the
    group key; bounds re-broadcast (groups-sized frame)."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = (
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("vc")
    )
    c = li.select(F.col("l_returnflag").alias("flag"), cents)
    gw = Window.partitionBy("flag")
    ranked = c.withColumn("rn", F.row_number().over(gw.orderBy("vc"))).withColumn(
        "n", F.count(F.lit(1)).over(gw)
    )
    bounds = ranked.groupBy("flag").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 19) div 20"), F.col("vc"))).alias("lo"),
        F.max(F.when(F.col("rn") == F.expr("(19 * n + 19) div 20"), F.col("vc"))).alias("hi"),
        F.max("n").cast("bigint").alias("n_values"),
    )
    clipped = c.join(F.broadcast(bounds), "flag").select(
        "flag",
        "n_values",
        F.least(F.greatest(F.col("vc"), F.col("lo")), F.col("hi")).alias("cv"),
        "lo",
        "hi",
    )
    return clipped.groupBy("flag", "n_values", "lo", "hi").agg(
        F.sum("cv").alias("_s")
    ).select(
        "flag",
        "n_values",
        (F.col("lo").cast("double") / F.lit(100.0)).alias("p05_clip"),
        (F.col("hi").cast("double") / F.lit(100.0)).alias("p95_clip"),
        (F.col("_s").cast("double") / F.lit(100.0)).alias("winsorized_sum"),
        (
            F.expr("(2 * _s + n_values) div (2 * n_values)").cast("double")
            / F.lit(100.0)
        ).alias("winsorized_mean"),
    )


register(
    "agg_winsorized_revenue",
    agg_winsorized_revenue,
    """
WITH c AS (
  SELECT l_returnflag AS flag,
         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
  FROM lineitem
), r AS (
  SELECT flag, vc,
         ROW_NUMBER() OVER (PARTITION BY flag ORDER BY vc) AS rn,
         COUNT(*) OVER (PARTITION BY flag) AS n
  FROM c
), b AS (
  SELECT flag,
         MAX(CASE WHEN rn = (n + 19) // 20 THEN vc END) AS lo,
         MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN vc END) AS hi,
         CAST(MAX(n) AS BIGINT) AS n_values
  FROM r GROUP BY flag
), s AS (
  SELECT c.flag, b.n_values, b.lo, b.hi,
         SUM(LEAST(GREATEST(c.vc, b.lo), b.hi)) AS sclip
  FROM c JOIN b ON c.flag = b.flag
  GROUP BY c.flag, b.n_values, b.lo, b.hi
)
SELECT flag, n_values,
  CAST(lo AS DOUBLE) / 100 AS p05_clip,
  CAST(hi AS DOUBLE) / 100 AS p95_clip,
  CAST(sclip AS DOUBLE) / 100 AS winsorized_sum,
  CAST((2 * sclip + n_values) // (2 * n_values) AS DOUBLE) / 100 AS winsorized_mean
FROM s
""",
)


# ---------------------------------------------------------------------------
# interval coalescing (merge overlapping delivery windows)
# ---------------------------------------------------------------------------


def window_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier coalescing of overlapping delivery windows
    [ship_day, ship_day + qty) into maximal covered spans — the
    uptime/SLA primitive (coverage ≠ Σ interval lengths whenever
    intervals overlap; only the merged spans measure real coverage).
    Classic sweep as a window program: order intervals by (start,
    end) within each supplier, a span begins where start exceeds the
    running max end of all PRECEDING intervals (half-open, so
    touching intervals merge), span id = running sum of the boundary
    flags, then two aggregates roll spans up to supplier stats.
    Start-ties are provably order-insensitive here (a tied row's
    predecessor always covers its start), so no synthetic tie-break
    column is needed.  All epoch-day integers.

    Shape: one supplier-keyed exchange feeding both windows and the
    aggregates — 100-supplier partitions locally, the same per-key
    bounded sort at 100 TB."""
    from pyspark.sql import Window

    epoch = F.lit("1970-01-01").cast("date")
    iv = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("supp"),
        F.datediff(F.col("l_shipdate").cast("date"), epoch).alias("s"),
        (
            F.datediff(F.col("l_shipdate").cast("date"), epoch)
            + F.col("l_quantity").cast("long")
        ).alias("e"),
    )
    w_prev = (
        Window.partitionBy("supp")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("supp")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = iv.withColumn(
        "boundary",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-(1 << 40))),
            1,
        ).otherwise(0),
    ).withColumn("span_id", F.sum("boundary").over(w_run))
    spans = flagged.groupBy("supp", "span_id").agg(
        F.min("s").alias("span_s"),
        F.max("e").alias("span_e"),
        F.count(F.lit(1)).alias("n_iv"),
    )
    return (
        spans.groupBy("supp")
        .agg(
            F.sum("n_iv").alias("n_intervals"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("span_e") - F.col("span_s")).alias("covered_days"),
            F.max(F.col("span_e") - F.col("span_s")).alias("longest_span_days"),
        )
        .orderBy("supp")
    )


register(
    "window_interval_coalesce",
    window_interval_coalesce,
    """
WITH iv AS (
  SELECT l_suppkey AS supp,
    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS s,
    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
      + CAST(l_quantity AS BIGINT) AS e
  FROM lineitem
),
flagged AS (
  SELECT supp, s, e,
    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY supp ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1099511627776)
         THEN 1 ELSE 0 END AS boundary
  FROM iv
),
numbered AS (
  SELECT supp, s, e,
    SUM(boundary) OVER (PARTITION BY supp ORDER BY s, e
                        ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flagged
),
spans AS (
  SELECT supp, span_id, MIN(s) AS span_s, MAX(e) AS span_e,
    CAST(COUNT(*) AS BIGINT) AS n_iv
  FROM numbered GROUP BY 1, 2
)
SELECT supp,
  CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
  CAST(COUNT(*) AS BIGINT) AS n_spans,
  CAST(SUM(span_e - span_s) AS BIGINT) AS covered_days,
  MAX(span_e - span_s) AS longest_span_days
FROM spans GROUP BY supp ORDER BY supp
""",
)


# ---------------------------------------------------------------------------
# MAD-based robust outliers (Hampel rule, integer-exact)
# ---------------------------------------------------------------------------


def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per event type via median absolute
    deviation — the Hampel identifier, the robust complement to the
    winsorized aggregate (mean/stddev rules break when the outliers
    themselves inflate the baseline; the 50%-breakdown median does
    not).  All integer: values are cents, the median is the LOW
    median (rank ⌈n/2⌉ — no interpolation, so the statistic stays a
    corpus value), and the Hampel test |x − med| > 3·1.4826·MAD is
    cross-multiplied to 10000·|x − med| > 44478·MAD so the consistency
    constant never becomes a float in the hashed result.

    Shape: two ranked passes over the fact (rank for the value
    median, rank again for the deviation median) + one broadcast
    join of the 5-row median frame — the honest exact-MAD cost; at
    100 TB swap both medians to ``approx_percentile`` and the plan
    collapses to two map-combinable aggregates (the profile_orders
    precedent, one-line swap)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )

    def low_median(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type")
        ranked = df.withColumn(
            "_rn", F.row_number().over(w.orderBy(col))
        ).withColumn("_n", F.count(F.lit(1)).over(w))
        return (
            ranked.filter(F.col("_rn") == F.expr("(_n + 1) div 2"))
            .select("event_type", F.col(col).alias(out))
        )

    med = low_median(ev, "cents", "median_cents")
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("cents") - F.col("median_cents"))
    )
    mad = low_median(dev.select("event_type", "absdev"), "absdev", "mad_cents")
    flagged = dev.join(F.broadcast(mad), "event_type").withColumn(
        "is_out",
        (F.col("absdev") * 10000 > F.col("mad_cents") * 44478).cast("long"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("median_cents").alias("median_cents"),
            F.max("mad_cents").alias("mad_cents"),
            F.sum("is_out").alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            "median_cents",
            "mad_cents",
            "n_outliers",
            F.expr("10000 * n_outliers div n").alias("outlier_bp"),
        )
        .orderBy("event_type")
    )


register(
    "agg_mad_outliers",
    agg_mad_outliers,
    """
WITH ev AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
),
rank1 AS (
  SELECT event_type, cents,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM ev
),
med AS (
  SELECT event_type, cents AS median_cents FROM rank1 WHERE rn = (n + 1) // 2
),
dev AS (
  SELECT e.event_type, e.cents, m.median_cents,
    abs(e.cents - m.median_cents) AS absdev
  FROM ev e JOIN med m ON m.event_type = e.event_type
),
rank2 AS (
  SELECT event_type, absdev,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY absdev) AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (
  SELECT event_type, absdev AS mad_cents FROM rank2 WHERE rn = (n + 1) // 2
)
SELECT d.event_type,
  CAST(COUNT(*) AS BIGINT) AS n,
  MAX(d.median_cents) AS median_cents,
  MAX(a.mad_cents) AS mad_cents,
  CAST(SUM(CASE WHEN d.absdev * 10000 > a.mad_cents * 44478
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
  CAST((10000 * SUM(CASE WHEN d.absdev * 10000 > a.mad_cents * 44478
               THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS outlier_bp
FROM dev d JOIN mad a ON a.event_type = d.event_type
GROUP BY d.event_type
ORDER BY d.event_type
""",
)
