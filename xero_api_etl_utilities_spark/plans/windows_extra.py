"""Second-wave operator catalog: as-of join, lag/lead, moving frames,
sliding windows, rollup, set ops, pivot — the 'available natively in
Spark' extensions SURVEY.md §2 lists as absent from the reference, each
with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators.asof import asof_join_backward
from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.plans.flagship import DEC, _money, _out
from xero_api_etl_utilities_spark.sources.parquet import load_table


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join: for each purchase event, the most
    recent signup event of the same user at-or-before it. Implemented
    with the union-sort-window trick (operators/asof.py) — one shuffle
    on user_id, no range-join explosion; oracled against DuckDB's
    native ASOF JOIN."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = e.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join_backward(
        purchases, signups, on="user_id", right_cols=["event_id"]
    )
    return joined.select(
        "event_id", "user_id", "ts",
        F.col("event_id_right").alias("signup_event_id"),
        F.col("ts_right").alias("signup_ts"),
    )


register(
    "join_asof",
    join_asof,
    """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), s AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'
)
SELECT p.event_id, p.user_id, p.ts,
       s.event_id AS signup_event_id, s.ts AS signup_ts
FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
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
        _out(F.sum(_money(F.col("value"))).over(w)).alias("trailing_sum"),
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


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows: 1-hour windows every 30 minutes —
    each event lands in two windows, generated timezone-free with
    make_timestamp_ntz (F.window would round-trip NTZ through the
    session zone)."""
    e = load_table(spark, sf_dir, "events")
    floor30 = F.make_timestamp_ntz(
        F.year("ts"), F.month("ts"), F.dayofmonth("ts"),
        F.hour("ts"), (F.minute("ts") / 30).cast("int") * 30, F.lit(0),
    )
    starts = F.array(floor30, floor30 - F.expr("INTERVAL 30 MINUTES"))
    return (
        e.select(
            F.explode(starts).alias("window_start"),
            "event_type",
            _money(F.col("value")).alias("val"),
        )
        .groupBy("window_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _out(F.sum("val")).alias("value_sum"),
        )
    )


register(
    "events_sliding",
    events_sliding,
    """
WITH floored AS (
  SELECT date_trunc('hour', ts)
           + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                  ELSE INTERVAL 0 MINUTE END AS s1,
         event_type, CAST(value AS DECIMAL(12,2)) AS val
  FROM events
), exploded AS (
  SELECT unnest([s1, s1 - INTERVAL 30 MINUTE]) AS window_start,
         event_type, val
  FROM floored
)
SELECT window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(val), 2) AS DOUBLE) AS value_sum
FROM exploded GROUP BY window_start, event_type
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
            _money(F.col("o_totalprice")).alias("amount"),
        )
        .rollup("order_year", "order_month")
        .agg(
            _out(F.sum("amount")).alias("total_amount"),
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


def set_ops_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (§2.7 'not present; native'): customers
    ordering in both 1995 and 1996 vs only-1995, tagged and unioned."""
    od = load_table(spark, sf_dir, "orders")
    y = F.year(F.col("o_orderdate").cast("date"))
    c95 = od.filter(y == 1995).select("o_custkey").distinct()
    c96 = od.filter(y == 1996).select("o_custkey").distinct()
    both = c95.intersect(c96).select("o_custkey", F.lit("both").alias("cohort"))
    only95 = c95.subtract(c96).select("o_custkey", F.lit("only_1995").alias("cohort"))
    return both.unionByName(only95)


register(
    "set_ops_custkeys",
    set_ops_custkeys,
    """
WITH c95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995),
     c96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996)
SELECT o_custkey, 'both' AS cohort FROM (SELECT * FROM c95 INTERSECT SELECT * FROM c96)
UNION ALL
SELECT o_custkey, 'only_1995' AS cohort FROM (SELECT * FROM c95 EXCEPT SELECT * FROM c96)
""",
)


def pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-by-name (the J6/P11 dept lookup pattern,
    src/DataObject.ts:114-122, as a native pivot): per-user event-type
    value totals in wide form with an explicit pivot value list (never
    an inferred one — inference is a full extra scan at 100 TB)."""
    e = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    piv = (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.sum(_money(F.col("value"))))
    )
    return piv.select(
        "user_id",
        *[
            _out(F.coalesce(F.col(t), F.lit(0).cast("decimal(12,2)"))).alias(f"{t}_total")
            for t in types
        ],
    )


register(
    "pivot_event_values",
    pivot_event_values,
    """
SELECT user_id,
  CAST(ROUND(COALESCE(SUM(CASE WHEN event_type='click' THEN CAST(value AS DECIMAL(12,2)) END), 0), 2) AS DOUBLE) AS click_total,
  CAST(ROUND(COALESCE(SUM(CASE WHEN event_type='error' THEN CAST(value AS DECIMAL(12,2)) END), 0), 2) AS DOUBLE) AS error_total,
  CAST(ROUND(COALESCE(SUM(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(12,2)) END), 0), 2) AS DOUBLE) AS purchase_total,
  CAST(ROUND(COALESCE(SUM(CASE WHEN event_type='signup' THEN CAST(value AS DECIMAL(12,2)) END), 0), 2) AS DOUBLE) AS signup_total,
  CAST(ROUND(COALESCE(SUM(CASE WHEN event_type='view' THEN CAST(value AS DECIMAL(12,2)) END), 0), 2) AS DOUBLE) AS view_total
FROM events GROUP BY user_id
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
            _money(F.col("l_extendedprice")).alias("amount"),
        )
        .cube("l_returnflag", "l_linestatus")
        .agg(
            _out(F.sum("amount")).alias("total_amount"),
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


def join_range_intransit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (operators/rangejoin.py): for each distinct
    order date, count lineitems whose delivery window
    [l_shipdate, l_shipdate + int(l_quantity) days] contains it.
    Dates become integer epoch-days so the bucket math is exact; the
    plan is equi-join on bucket, never a nested loop."""
    from xero_api_etl_utilities_spark.operators.rangejoin import range_join_bucketed

    epoch = F.lit("1970-01-01").cast("date")
    points = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").alias("on_date"))
        .distinct()
        .withColumn("p_day", F.datediff(F.col("on_date"), epoch))
    )
    iv = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 20 == 0)
        .select(
            F.datediff(F.col("l_shipdate"), epoch).alias("s_day"),
            (
                F.datediff(F.col("l_shipdate"), epoch)
                + F.col("l_quantity").cast("int")
            ).alias("e_day"),
        )
    )
    joined = range_join_bucketed(points, iv, "p_day", "s_day", "e_day", bucket=32)
    return (
        joined.groupBy("on_date")
        .agg(F.count(F.lit(1)).alias("n_in_transit"))
    )


register(
    "join_range_intransit",
    join_range_intransit,
    """
WITH points AS (
  SELECT DISTINCT o_orderdate AS on_date FROM orders
), iv AS (
  -- l_shipdate is a midnight-aligned TIMESTAMP; interval end is
  -- shipdate + quantity days (DATE + INT = days in DuckDB)
  SELECT CAST(l_shipdate AS DATE) AS s,
         CAST(l_shipdate AS DATE) + CAST(l_quantity AS INT) AS e
  FROM lineitem WHERE l_orderkey % 20 = 0
)
SELECT on_date, CAST(COUNT(*) AS BIGINT) AS n_in_transit
FROM points JOIN iv ON s <= CAST(on_date AS DATE) AND CAST(on_date AS DATE) <= e
GROUP BY on_date
""",
)


def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval OVERLAP join — the second member of
    the range-join family (``join_range_intransit`` joins points to
    intervals; this joins intervals to intervals): per supplier,
    count the pairs of its shipments whose delivery windows
    [shipdate, shipdate + quantity days] overlap in time — the
    warehouse-collision / concurrent-shipment census.

    Lowering: ``interval_overlap_join_bucketed`` — both sides explode
    to 32-day buckets, equi-join on (supplier, bucket), residual
    overlap filter, and the CLAIM-BUCKET rule (a pair is emitted only
    from the bucket holding max(start_a, start_b)) makes each
    overlapping pair appear exactly once with NO distinct pass.
    Never a nested loop; fan-out bounded by per-(supplier, bucket)
    shipment counts.  Pair identity (order*10 + linenumber, unique:
    linenumber <= 7) orders the self-join so each unordered pair
    counts once."""
    from xero_api_etl_utilities_spark.operators.rangejoin import (
        interval_overlap_join_bucketed,
    )

    epoch = F.lit("1970-01-01").cast("date")
    base = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 20 == 0)
        .select(
            F.col("l_suppkey").alias("supp"),
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
            F.datediff(F.col("l_shipdate"), epoch).alias("s_day"),
            (
                F.datediff(F.col("l_shipdate"), epoch)
                + F.col("l_quantity").cast("int")
            ).alias("e_day"),
        )
    )
    a = base.select(
        "supp",
        F.col("rid").alias("rid_a"),
        F.col("s_day").alias("sa"),
        F.col("e_day").alias("ea"),
    )
    b = base.select(
        "supp",
        F.col("rid").alias("rid_b"),
        F.col("s_day").alias("sb"),
        F.col("e_day").alias("eb"),
    )
    pairs = interval_overlap_join_bucketed(
        a, b, "supp", "rid_a", "sa", "ea", "rid_b", "sb", "eb", bucket=32
    )
    return (
        pairs.groupBy("supp")
        .agg(F.count(F.lit(1)).alias("n_overlap_pairs"))
        .select(F.col("supp").cast("bigint").alias("l_suppkey"), "n_overlap_pairs")
        .orderBy("l_suppkey")
    )


register(
    "join_interval_overlap",
    join_interval_overlap,
    """
WITH iv AS (
  SELECT l_suppkey AS supp, l_orderkey * 10 + l_linenumber AS rid,
         CAST(l_shipdate AS DATE) AS s,
         CAST(l_shipdate AS DATE) + CAST(l_quantity AS INT) AS e
  FROM lineitem WHERE l_orderkey % 20 = 0
)
SELECT CAST(a.supp AS BIGINT) AS l_suppkey,
       CAST(COUNT(*) AS BIGINT) AS n_overlap_pairs
FROM iv a JOIN iv b
  ON a.supp = b.supp AND a.rid < b.rid
 AND b.s <= a.e AND a.s <= b.e
GROUP BY a.supp
ORDER BY l_suppkey
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


def join_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate shape (orders above their customer's
    average total), decorrelated to one window pass. The comparison is
    cross-multiplied (price*n > sum) so no decimal division enters the
    result — exact on both engines."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(12,2)").alias("p"),
    )
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("tot", F.sum("p").over(w))
        .withColumn("n", F.count(F.lit(1)).over(w))
        .filter(F.col("p") * F.col("n") > F.col("tot"))
        .select("o_orderkey", "o_custkey")
    )


register(
    "join_above_avg",
    join_above_avg,
    """
WITH t AS (
  SELECT o_orderkey, o_custkey,
         CAST(o_totalprice AS DECIMAL(12,2)) AS p
  FROM orders
), s AS (
  SELECT o_custkey, SUM(p) AS tot, COUNT(*) AS n
  FROM t GROUP BY o_custkey
)
SELECT t.o_orderkey, t.o_custkey
FROM t JOIN s USING (o_custkey)
WHERE t.p * s.n > s.tot
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
            _money(F.col("l_extendedprice")).alias("_price"),
            F.ntile(8).over(w).alias("price_bin"),
        )
        .groupBy("l_returnflag", "price_bin")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _out(F.min("_price")).alias("bin_lo"),
            _out(F.max("_price")).alias("bin_hi"),
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
            _money(F.col("o_totalprice")).alias("amount"),
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
            _out(F.sum("amount")).alias("total_amount"),
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


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the four lineitem measures rotate from columns
    into (measure, value) rows — the inverse of pivot_event_values,
    completing the reshape pair. Spark expands the wide row in the
    scan projection (an Expand node, no shuffle, no UDF); the rollup
    after is an ordinary partial+final aggregate per measure."""
    li = load_table(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    return (
        li.select("l_returnflag", *[_money(F.col(m)).alias(m) for m in measures])
        .unpivot(
            ids=["l_returnflag"],
            values=measures,
            variableColumnName="measure",
            valueColumnName="value",
        )
        .groupBy("l_returnflag", "measure")
        .agg(
            _out(F.sum("value")).alias("total"),
            _out(F.max("value")).alias("max_value"),
        )
    )


register(
    "unpivot_measures",
    unpivot_measures,
    """
WITH u AS (
  SELECT l_returnflag, measure, value
  FROM (
    SELECT l_returnflag,
      CAST(l_quantity AS DECIMAL(12,2)) AS l_quantity,
      CAST(l_extendedprice AS DECIMAL(12,2)) AS l_extendedprice,
      CAST(l_discount AS DECIMAL(12,2)) AS l_discount,
      CAST(l_tax AS DECIMAL(12,2)) AS l_tax
    FROM lineitem
  ) UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice, l_discount, l_tax))
)
SELECT l_returnflag, measure,
  CAST(ROUND(SUM(value), 2) AS DOUBLE) AS total,
  CAST(ROUND(MAX(value), 2) AS DOUBLE) AS max_value
FROM u
GROUP BY l_returnflag, measure
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
    revenue = _money(F.col("l_extendedprice")) * (
        F.lit(1).cast(DEC) - _money(F.col("l_discount"))
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
            _out(F.col("_rev")).alias("revenue"),
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


def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a max-staleness tolerance (pandas merge_asof's
    ``tolerance``, unavailable natively in either engine): the latest
    signup at-or-before each purchase counts only when it is <= 7 days
    old, else the match is NULL. Lowering: the SAME single-shuffle
    union-sort-window as join_asof, then one null-out projection —
    tolerance costs nothing extra. Semantics note the oracle pins:
    tolerance FILTERS the picked row, it does not fall back to an
    older in-tolerance row (there is none — picked is the newest);
    both attached columns null together (the one-struct fill rule,
    operators/asof.py)."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = e.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join_backward(
        purchases, signups, on="user_id", right_cols=["event_id"]
    )
    fresh = F.col("ts_right") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.when(fresh, F.col("event_id_right")).alias("signup_event_id"),
        F.when(fresh, F.col("ts_right")).alias("signup_ts"),
    )


register(
    "join_asof_tolerance",
    join_asof_tolerance,
    """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), s AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'
)
SELECT p.event_id, p.user_id, p.ts,
  CASE WHEN s.ts >= p.ts - INTERVAL 7 DAY THEN s.event_id END
    AS signup_event_id,
  CASE WHEN s.ts >= p.ts - INTERVAL 7 DAY THEN s.ts END AS signup_ts
FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
""",
)


def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session-window aggregate (F.session_window, the
    dynamic-gap session primitive shared by batch and Structured
    Streaming) — proven EQUIVALENT to the manual gaps-and-islands
    sessionization: the oracle computes sessions the lag+cumsum way
    and must hash-match. Window semantics pinned: session end = last
    event + gap (half-open), merge when next event < previous end.
    One shuffle on (user, session-window assignment)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        .orderBy("user_id", "session_start")
    )


register(
    "events_session_window",
    events_session_window,
    """
WITH ordered AS (
  SELECT user_id, ts,
    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > INTERVAL 30 MINUTE
         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS is_new
  FROM events
),
islands AS (
  SELECT user_id, ts,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
)
SELECT user_id, MIN(ts) AS session_start,
  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM islands
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
)


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join — completing the as-of family
    (backward, tolerance, point-in-time) with the
    pandas ``direction='nearest'`` member via
    ``operators/asof.asof_join_nearest``: even-id events probe (their
    ts shifted +37 minutes so neither direction trivially wins) for
    each user's nearest odd-id event, ties to the backward candidate,
    |delta| in exact integer micros.  Right side deduped to one row
    per (user, ts) (max event_id) — the operator's determinism
    contract.  One union-sort shuffle on the user key; no range
    join.  Oracle: DuckDB correlated nearest-row subquery with the
    same tie rule."""
    from xero_api_etl_utilities_spark.operators.asof import asof_join_nearest

    ev = load_table(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id",
        "user_id",
        (F.col("ts") + F.expr("INTERVAL 37 MINUTES")).alias("pts"),
    )
    right = (
        ev.filter(F.col("event_id") % 2 == 1)
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("r_event_id"))
    )
    nearest = asof_join_nearest(probes, right, "user_id", "pts", "ts")
    return (
        nearest.filter(F.col("r_event_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            "r_event_id",
            F.abs(
                F.unix_micros(F.col("pts").cast("timestamp"))
                - F.unix_micros(F.col("ts_right").cast("timestamp"))
            )
            .cast("bigint")
            .alias("delta_us"),
        )
        .orderBy("event_id")
    )


register(
    "join_asof_nearest",
    join_asof_nearest,
    """
WITH probes AS (
  SELECT event_id, user_id, ts + INTERVAL 37 MINUTE AS pts
  FROM events WHERE event_id % 2 = 0
), rt AS (
  SELECT user_id, ts, max(event_id) AS r_event_id
  FROM events WHERE event_id % 2 = 1
  GROUP BY user_id, ts
), picked AS (
  SELECT p.event_id, p.user_id,
    (SELECT r.r_event_id FROM rt r
     WHERE r.user_id = p.user_id
     ORDER BY abs(epoch_us(r.ts) - epoch_us(p.pts)) ASC,
              CASE WHEN r.ts <= p.pts THEN 0 ELSE 1 END ASC
     LIMIT 1) AS r_event_id,
    (SELECT abs(epoch_us(r.ts) - epoch_us(p.pts)) FROM rt r
     WHERE r.user_id = p.user_id
     ORDER BY abs(epoch_us(r.ts) - epoch_us(p.pts)) ASC,
              CASE WHEN r.ts <= p.pts THEN 0 ELSE 1 END ASC
     LIMIT 1) AS delta_us
  FROM probes p
)
SELECT event_id, user_id, r_event_id, CAST(delta_us AS BIGINT) AS delta_us
FROM picked WHERE r_event_id IS NOT NULL
ORDER BY event_id
""",
)
