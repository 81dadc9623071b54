"""Core relational operator catalog (SURVEY.md §2.2–2.10).

Every query is the Spark-first re-expression of a reference operator
(citations inline), bound to the driver's star schema, with a DuckDB
oracle. Output conventions (shared with plans/flagship.py):

- money: exact DecimalType math, final ROUND(…,2) cast to DOUBLE;
- ratios: integer-cents half-up division `(2a+n) div (2n)`;
- counts: BIGINT on both sides;
- deterministic tie-breaks on every window/order operation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.scalars import (
    due_date,
    excel_serial_to_date,
    lpad4,
    strip_dashes,
    strip_non_digits,
    weekday_upper,
)
from xero_api_etl_utilities_spark.operators import events as ev
from xero_api_etl_utilities_spark.operators.quality import split_exactly_one
from xero_api_etl_utilities_spark.operators.reconcile import reconcile
from xero_api_etl_utilities_spark.operators.segmentation import segment_by_marker
from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.plans.flagship import DEC, _money, _out
from xero_api_etl_utilities_spark.sources.parquet import load_table


# --------------------------------------------------------------------------
# Scans / projections / filters (S6, P1–P8)
# --------------------------------------------------------------------------

def scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6+P1+P3+P4: filtered scan with explicit projection — the
    `findMany({where, select})` shape (src/queries.ts:93-121). The
    filter and the 4-column ReadSchema both reach the parquet reader."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") == "R")
        & (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01"))
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("ship_date"),
        _out(_money(F.col("l_extendedprice"))).alias("amount"),
    )


register(
    "scan_project_filter",
    scan_project_filter,
    """
SELECT l_orderkey, l_linenumber,
       CAST(l_shipdate AS DATE) AS ship_date,
       CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2)), 2) AS DOUBLE) AS amount
FROM lineitem
WHERE l_returnflag = 'R'
  AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
""",
)


def filter_null_and_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+P6+P7: null-key filter (`customerId != null`,
    src/queries.ts:11) and zero-amount filter
    (`abs(+amount.toFixed(2)) !== 0`, src/parse.ts:106). The nullable
    key is synthesized with nullif since the star schema is
    null-free."""
    od = load_table(spark, sf_dir, "orders")
    keyed = od.select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED")).alias("priority_key"),
        _money(F.col("o_totalprice")).alias("amount"),
    )
    return keyed.filter(
        F.col("priority_key").isNotNull() & (F.abs(F.round(F.col("amount"), 2)) != 0)
    ).select("o_orderkey", "priority_key", _out(F.col("amount")).alias("amount"))


register(
    "filter_null_and_zero",
    filter_null_and_zero,
    """
WITH keyed AS (
  SELECT o_orderkey,
         NULLIF(o_orderpriority, '4-NOT SPECIFIED') AS priority_key,
         CAST(o_totalprice AS DECIMAL(12,2)) AS amount
  FROM orders
)
SELECT o_orderkey, priority_key, CAST(ROUND(amount, 2) AS DOUBLE) AS amount
FROM keyed
WHERE priority_key IS NOT NULL AND ABS(ROUND(amount, 2)) <> 0
""",
)


def filter_negation_membership_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5+P11+P12: negation predicate (`{not: "10528"}`,
    src/queries.ts:107), membership projection (the 9 named
    departments, src/DataObject.ts:114-122), and conditional GL-code
    routing (`customerId=="45678" ? "42010" : "41010"`,
    src/DataObject.ts:29)."""
    cu = load_table(spark, sf_dir, "customer")
    return (
        cu.filter(F.col("c_mktsegment") != "BUILDING")
        .filter(F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY", "HOUSEHOLD"))
        .select(
            "c_custkey",
            "c_mktsegment",
            F.when(F.col("c_mktsegment") == "AUTOMOBILE", F.lit("42010"))
            .otherwise(F.lit("41010"))
            .alias("gl_code"),
        )
    )


register(
    "filter_negation_membership_routing",
    filter_negation_membership_routing,
    """
SELECT c_custkey, c_mktsegment,
       CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN '42010' ELSE '41010' END AS gl_code
FROM customer
WHERE c_mktsegment <> 'BUILDING'
  AND c_mktsegment IN ('AUTOMOBILE', 'MACHINERY', 'HOUSEHOLD')
""",
)


# --------------------------------------------------------------------------
# Joins (J1–J5)
# --------------------------------------------------------------------------

def _reconcile_parts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The daily-workbook verification shape: the probe is a small
    slice of charge rows as re-keyed from the workbook (1-in-20
    orders), of which a deterministic subset (suppkey % 7 == 0) is
    perturbed by one cent — mis-keyed entries that must land in the
    unverified set. The build side is the full charge table compared
    as stored; the probe side carries the round-2dp rule
    (src/queries.ts:15) and its `l_returnflag` rides through the match
    as the J4 notes-merge."""
    li = load_table(spark, sf_dir, "lineitem")
    probe = li.filter(F.col("l_orderkey") % 20 == 0).select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            _money(F.col("l_extendedprice"))
            + F.when(F.col("l_suppkey") % 7 == 0, F.lit("0.01").cast(DEC)).otherwise(
                F.lit(0).cast(DEC)
            ),
            2,
        ).alias("amount"),
        F.col("l_returnflag").alias("probe_note"),
    )
    build = li.select(
        "l_orderkey",
        "l_linenumber",
        _money(F.col("l_extendedprice")).alias("amount"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )
    return reconcile(probe, build, on=["l_orderkey", "l_linenumber", "amount"])


_RECONCILE_CTE = """
WITH probe AS (
  SELECT l_orderkey, l_linenumber,
         ROUND(CAST(l_extendedprice AS DECIMAL(12,2))
               + CASE WHEN l_suppkey % 7 = 0 THEN CAST('0.01' AS DECIMAL(12,2))
                      ELSE CAST(0 AS DECIMAL(12,2)) END, 2) AS amount,
         l_returnflag AS probe_note
  FROM lineitem WHERE l_orderkey % 20 = 0
), build AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS amount,
         CAST(l_shipdate AS DATE) AS ship_date
  FROM lineitem
)
"""


def reconcile_matched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 matched half: the N+1 `findFirst` verification loop
    (src/queries.ts:5-46) as ONE set-based broadcast equi-join on
    (keys, rounded amount), probe columns enriched from the build
    side (J4)."""
    matched, _ = _reconcile_parts(spark, sf_dir)
    return matched.select(
        "l_orderkey", "l_linenumber", "probe_note", "ship_date",
        _out(F.col("amount")).alias("amount"),
    )


register(
    "reconcile_matched",
    reconcile_matched,
    _RECONCILE_CTE
    + """
SELECT p.l_orderkey, p.l_linenumber, p.probe_note, b.ship_date,
       CAST(ROUND(p.amount, 2) AS DOUBLE) AS amount
FROM probe p JOIN build b
  ON p.l_orderkey = b.l_orderkey AND p.l_linenumber = b.l_linenumber
 AND p.amount = b.amount
""",
)


def reconcile_unverified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 anti half: probe rows with no build match — the "unverified"
    set that feeds the Q3 abort (src/helpers.ts:200-214)."""
    _, unverified = _reconcile_parts(spark, sf_dir)
    return unverified.select(
        "l_orderkey", "l_linenumber", "probe_note",
        _out(F.col("amount")).alias("amount"),
    )


register(
    "reconcile_unverified",
    reconcile_unverified,
    _RECONCILE_CTE
    + """
SELECT p.l_orderkey, p.l_linenumber, p.probe_note,
       CAST(ROUND(p.amount, 2) AS DOUBLE) AS amount
FROM probe p ANTI JOIN build b
  ON p.l_orderkey = b.l_orderkey AND p.l_linenumber = b.l_linenumber
 AND p.amount = b.amount
""",
)


def dim_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+J3: broadcast dimension joins (charge→customer,
    departmentSales→department nested selects, src/queries.ts:24-30,
    82-88) as customer ⋈ nation ⋈ region star enrichment."""
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")
    return (
        cu.join(F.broadcast(na), cu.c_nationkey == na.n_nationkey, "left")
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey, "left")
        .select(
            "c_custkey", "c_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            _out(_money(F.col("c_acctbal"))).alias("acctbal"),
        )
    )


register(
    "dim_join_enrich",
    dim_join_enrich,
    """
SELECT c_custkey, c_name, n_name AS nation, r_name AS region,
       CAST(ROUND(CAST(c_acctbal AS DECIMAL(12,2)), 2) AS DOUBLE) AS acctbal
FROM customer
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
""",
)


def join_exactly_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5+Q4: the exactly-one-invoice-match gate
    (src/apiFunctions.ts:148-162) — keep rows whose
    (custkey, orderdate) key is unique; computed with a windowed
    count, no self-join."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").cast("date").alias("order_date")
    )
    unique, _ = split_exactly_one(od, ["o_custkey", "order_date"])
    return unique


register(
    "join_exactly_one",
    join_exactly_one,
    """
SELECT o_orderkey, o_custkey, order_date FROM (
  SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS order_date,
         COUNT(*) OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)) AS kc
  FROM orders
) WHERE kc = 1
""",
)


def join_cardinality_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 violation side-output: the 0-or-many matches that are logged
    and skipped (src/apiFunctions.ts:150-161)."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").cast("date").alias("order_date")
    )
    _, violations = split_exactly_one(od, ["o_custkey", "order_date"])
    return violations


register(
    "join_cardinality_violations",
    join_cardinality_violations,
    """
SELECT o_orderkey, o_custkey, order_date FROM (
  SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS order_date,
         COUNT(*) OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)) AS kc
  FROM orders
) WHERE kc <> 1
""",
)


# --------------------------------------------------------------------------
# Aggregations (A1–A9)
# --------------------------------------------------------------------------

def agg_conditional_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A3+A4+A9: the per-type filtered sums (in-store expenses
    tranType 13, other payments tranType 14, account charges —
    src/queries.ts:93-121,125,148-149) as ONE pass of conditional
    aggregates per user."""
    e = load_table(spark, sf_dir, "events")
    val = _money(F.col("value"))
    zero = F.lit(0).cast(DEC)
    return e.groupBy("user_id").agg(
        _out(F.sum(F.when(F.col("event_type") == "purchase", val).otherwise(zero))).alias(
            "purchase_total"
        ),
        _out(F.sum(F.when(F.col("event_type") == "error", val).otherwise(zero))).alias(
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
    # r16 (guide §2.5): the broadcast join + triple-decimal partial
    # aggregation ran on the single-task lineitem scan; compute-width
    # exchange first (warm A/B at sf0.1: 1.6 → 1.2 s).  Decimal sums
    # are exact in any order.
    li = compute_width(load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    header = od.groupBy(F.col("o_orderdate").cast("date").alias("order_date")).agg(
        F.sum(_money(F.col("o_totalprice"))).alias("header_total")
    )
    lines = (
        li.join(od.select("o_orderkey", "o_orderdate"), li.l_orderkey == od.o_orderkey)
        .groupBy(F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(
            F.sum(
                _money(F.col("l_extendedprice"))
                * (F.lit(1).cast(DEC) - _money(F.col("l_discount")))
                * (F.lit(1).cast(DEC) + _money(F.col("l_tax")))
            ).alias("computed_total")
        )
    )
    return header.join(lines, "order_date", "left").select(
        "order_date",
        _out(F.col("header_total")).alias("header_total"),
        _out(F.col("computed_total")).alias("computed_total"),
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
            _out(_money(F.col("c_acctbal"))).alias("acctbal"),
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


def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2: explicit total order + limit (the engine never relies on
    incidental row order, src/parse.ts:82): top-100 orders by price,
    orderkey tie-break. Spark executes this as a TakeOrdered top-k —
    no global sort materialization."""
    od = load_table(spark, sf_dir, "orders")
    return (
        od.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select(
            "o_orderkey",
            _out(_money(F.col("o_totalprice"))).alias("total_price"),
        )
    )


register(
    "sort_limit_topk",
    sort_limit_topk,
    """
SELECT o_orderkey,
       CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE) AS total_price
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
""",
)


# --------------------------------------------------------------------------
# Set operations / structure transforms (U1–U3, P9, D1–D3)
# --------------------------------------------------------------------------

def union_tagged_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2+P9+F19: the charges/credits sign split and re-union
    (src/parse.ts:108-112, src/DataObject.ts:20) — credits carry
    negated amounts, a tag column replaces the two JS arrays."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        _money(F.col("l_extendedprice")).alias("amount"),
    )
    charges = base.filter(F.col("l_returnflag") == "A").select(
        "l_orderkey", "l_linenumber",
        _out(F.col("amount")).alias("amount"),
        F.lit(False).alias("is_credit"),
    )
    credits = base.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_linenumber",
        _out(-F.col("amount")).alias("amount"),
        F.lit(True).alias("is_credit"),
    )
    return charges.unionByName(credits)


register(
    "union_tagged_streams",
    union_tagged_streams,
    """
SELECT l_orderkey, l_linenumber,
       CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2)), 2) AS DOUBLE) AS amount,
       FALSE AS is_credit
FROM lineitem WHERE l_returnflag = 'A'
UNION ALL
SELECT l_orderkey, l_linenumber,
       CAST(ROUND(-CAST(l_extendedprice AS DECIMAL(12,2)), 2) AS DOUBLE) AS amount,
       TRUE AS is_credit
FROM lineitem WHERE l_returnflag = 'R'
""",
)


def invoice_line_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1+D2 (oracle-checkable form): per-order line-item assembly —
    the dept-sales→line-items construction (src/DataObject.ts:125-132)
    as an ordered, delimited rendering plus the line total. The true
    nested ArrayType(StructType) + to_json document form is covered by
    unit tests (JSON text isn't hash-comparable across engines)."""
    from xero_api_etl_utilities_spark.operators.materialize import (
        compute_width,
    )

    # r16 (guide §2.5): the per-line string formatting + sorted
    # collect_list partial aggregation ran on the single-task lineitem
    # scan; one orderkey-keyed exchange runs it at compute width and
    # the groupBy reuses the partitioning (warm A/B at sf0.1:
    # 1.9 → 0.65 s).  array_sort makes the rendering order-independent
    # and the decimal sum is exact in any order.
    li = compute_width(load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    line = F.format_string(
        "%d:%d:%s",
        F.col("l_partkey"),
        F.col("l_linenumber"),
        F.round(_money(F.col("l_extendedprice")), 2).cast("string"),
    )
    return li.groupBy(F.col("l_orderkey").alias("order_id")).agg(
        F.count(F.lit(1)).alias("line_count"),
        F.array_join(F.array_sort(F.collect_list(line)), "|").alias("lines"),
        _out(F.sum(_money(F.col("l_extendedprice")))).alias("invoice_total"),
    )


register(
    "invoice_line_assembly",
    invoice_line_assembly,
    """
SELECT l_orderkey AS order_id,
  CAST(COUNT(*) AS BIGINT) AS line_count,
  string_agg(
    l_partkey || ':' || l_linenumber || ':'
      || CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2)), 2) AS VARCHAR),
    '|'
    ORDER BY l_partkey || ':' || l_linenumber || ':'
      || CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2)), 2) AS VARCHAR)
  ) AS lines,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS invoice_total
FROM lineitem GROUP BY l_orderkey
""",
)


# --------------------------------------------------------------------------
# Scalar function packs (F1–F24)
# --------------------------------------------------------------------------

def scalar_string_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F3/F5/F7: concat_ws reference key, lpad4, first-dash
    strip (the no-/g regex, src/parse.ts:88-90), digit extraction,
    upper-case."""
    od = load_table(spark, sf_dir, "orders")
    return od.select(
        "o_orderkey",
        F.concat_ws("/", F.col("o_custkey").cast("string"), lpad4(F.col("o_orderkey") % 10000)).alias("ref_key"),
        strip_dashes(F.col("o_orderpriority")).alias("priority_stripped"),
        strip_non_digits(F.col("o_orderpriority")).alias("priority_digits"),
        F.upper(F.col("o_orderstatus")).alias("status_upper"),
    )


register(
    "scalar_string_pack",
    scalar_string_pack,
    """
SELECT o_orderkey,
  o_custkey || '/' || right('0000' || CAST(o_orderkey % 10000 AS VARCHAR), 4) AS ref_key,
  regexp_replace(o_orderpriority, '-', '') AS priority_stripped,
  regexp_replace(o_orderpriority, '[^0-9]', '', 'g') AS priority_digits,
  upper(o_orderstatus) AS status_upper
FROM orders
""",
)


def scalar_date_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/F12/F14/F15/F16: ISO render, upper weekday name, +2 days
    (src/DataObject.ts:147), trading-terms due date
    (src/helpers.ts:228-259), Excel-serial round trip
    (src/parse.ts:64)."""
    od = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    terms_type = (
        F.when(F.col("o_custkey") % 3 == 0, F.lit("DAYSAFTERBILLDATE"))
        .when(F.col("o_custkey") % 3 == 1, F.lit("OFFOLLOWINGMONTH"))
        .otherwise(F.lit(None).cast("string"))
    )
    terms_days = (F.col("o_custkey") % 28 + 1).cast("int")
    serial = F.datediff(d, F.lit("1899-12-30").cast("date"))
    return od.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("iso_date"),
        weekday_upper(d).alias("weekday"),
        F.date_add(d, 2).alias("plus_two_days"),
        terms_type.alias("terms_type"),
        due_date(d, terms_type, terms_days).alias("due_date"),
        serial.cast("bigint").alias("excel_serial"),
        excel_serial_to_date(serial).alias("serial_roundtrip"),
    )


register(
    "scalar_date_pack",
    scalar_date_pack,
    """
SELECT o_orderkey,
  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS iso_date,
  upper(strftime(CAST(o_orderdate AS DATE), '%a')) AS weekday,
  CAST(o_orderdate AS DATE) + 2 AS plus_two_days,
  CASE WHEN o_custkey % 3 = 0 THEN 'DAYSAFTERBILLDATE'
       WHEN o_custkey % 3 = 1 THEN 'OFFOLLOWINGMONTH' END AS terms_type,
  CASE WHEN o_custkey % 3 = 0
         THEN CAST(o_orderdate AS DATE) + CAST(o_custkey % 28 + 1 AS INT)
       WHEN o_custkey % 3 = 1
         THEN make_date(
                CAST(strftime(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH, '%Y') AS INT),
                CAST(strftime(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH, '%m') AS INT),
                CAST(o_custkey % 28 + 1 AS INT))
       ELSE last_day(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH)
  END AS due_date,
  CAST(datediff('day', DATE '1899-12-30', CAST(o_orderdate AS DATE)) AS BIGINT) AS excel_serial,
  DATE '1899-12-30' + CAST(datediff('day', DATE '1899-12-30', CAST(o_orderdate AS DATE)) AS INT) AS serial_roundtrip
FROM orders
""",
)


def scalar_null_conditional_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17/F18/F19/F20/F22/F23/F24: abs, round-2, negate, GST×11
    scaling (src/DataObject.ts:113 — with the `?? 0` coalesce applied
    BEFORE the arithmetic, fixing the reference's dead null-check),
    decimal coercion, coalesce defaults, conditional."""
    li = load_table(spark, sf_dir, "lineitem")
    amt = _money(F.col("l_extendedprice"))
    tax = F.coalesce(F.nullif(_money(F.col("l_tax")), F.lit(0).cast(DEC)), F.lit(0).cast(DEC))
    return li.select(
        "l_orderkey", "l_linenumber",
        _out(F.abs(-amt)).alias("abs_neg_amount"),
        _out(F.round(amt, 2)).alias("rounded"),
        _out(tax * 11).alias("gst_scaled"),
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("NONE")).alias("flag_defaulted"),
        F.when(F.col("l_quantity") > 25, F.lit("bulk")).otherwise(F.lit("retail")).alias("order_class"),
    )


register(
    "scalar_null_conditional_pack",
    scalar_null_conditional_pack,
    """
SELECT l_orderkey, l_linenumber,
  CAST(ROUND(ABS(-CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS abs_neg_amount,
  CAST(ROUND(ROUND(CAST(l_extendedprice AS DECIMAL(12,2)), 2), 2) AS DOUBLE) AS rounded,
  CAST(ROUND(COALESCE(NULLIF(CAST(l_tax AS DECIMAL(12,2)), CAST(0 AS DECIMAL(12,2))),
                      CAST(0 AS DECIMAL(12,2))) * 11, 2) AS DOUBLE) AS gst_scaled,
  COALESCE(NULLIF(l_returnflag, 'N'), 'NONE') AS flag_defaulted,
  CASE WHEN l_quantity > 25 THEN 'bulk' ELSE 'retail' END AS order_class
FROM lineitem
""",
)


# --------------------------------------------------------------------------
# Event operators (X5 batch form)
# --------------------------------------------------------------------------

def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation over the event stream
    (batch form)."""
    e = load_table(spark, sf_dir, "events")
    return ev.tumbling_agg(e)


register(
    "events_tumbling",
    events_tumbling,
    """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1, 2
""",
)


def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) — per-user
    session roll-up with interval-exact gap comparison."""
    e = load_table(spark, sf_dir, "events")
    return ev.session_stats(e)


register(
    "events_sessionization",
    events_sessionization,
    """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, event_id, event_type,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types
FROM sessions GROUP BY user_id, session_seq
""",
)


def events_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5/U-dedup: keep-latest-per-key dedup (batch twin of
    dropDuplicatesWithinWatermark), key = (user_id, event_type)."""
    e = load_table(spark, sf_dir, "events")
    return ev.dedup_keep_latest(e, ["user_id", "event_type"]).select(
        "event_id", "user_id", "event_type", "ts"
    )


register(
    "events_dedup_latest",
    events_dedup_latest,
    """
SELECT event_id, user_id, event_type, ts FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)


def set_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-family completion (r4) — SQL SET ALGEBRA over two customer
    populations (ordered in 1996 vs 1997): EXCEPT both ways +
    INTERSECT, tagged and unioned into one segment table. Operator
    choice is plan-driven: ``subtract()`` (EXCEPT DISTINCT) lowers to
    a LEFT-ANTI hash join and ``intersect()`` to a LEFT-SEMI — while
    ``exceptAll()`` lowers to Spark's count-replication rewrite
    (union of +1/−1 counts, two extra aggregations; verified via
    explain), pointless overhead when the inputs are already distinct
    sets. No sort, no cartesian; the audit pins anti+semi. The oracle
    uses the SQL EXCEPT/INTERSECT operators literally."""
    od = load_table(spark, sf_dir, "orders")

    def year_custs(y: int) -> DataFrame:
        return (
            od.filter(F.year(F.col("o_orderdate").cast("date")) == y)
            .select("o_custkey")
            .distinct()
        )

    a, b = year_custs(1996), year_custs(1997)
    return (
        a.subtract(b).select("o_custkey", F.lit("only_1996").alias("segment"))
        .unionAll(
            b.subtract(a).select("o_custkey", F.lit("only_1997").alias("segment"))
        )
        .unionAll(
            a.intersect(b).select("o_custkey", F.lit("both_years").alias("segment"))
        )
    )


register(
    "set_customer_segments",
    set_customer_segments,
    """
WITH a AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE year(CAST(o_orderdate AS DATE)) = 1996
), b AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE year(CAST(o_orderdate AS DATE)) = 1997
)
SELECT o_custkey, 'only_1996' AS segment FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
UNION ALL
SELECT o_custkey, 'only_1997' AS segment FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
UNION ALL
SELECT o_custkey, 'both_years' AS segment FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
""",
)
