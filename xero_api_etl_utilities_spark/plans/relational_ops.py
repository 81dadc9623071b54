"""Relational catalog queries: the ``scan_``, ``filter_``, ``reconcile_``,
``dim_``, ``join_``, ``sort_``, ``union_``, ``invoice_``, ``scalar_``,
``set_``, ``pivot_``, ``unpivot_``, ``nested_``, ``profile_`` and ``corr_``
families.

Each query re-expresses a relational operator of the reference ETL over
the star schema, with a DuckDB oracle: the charge scans and
filters of ``src/queries.ts``, the charge verification join
(``src/queries.ts:5-46``) as the ``reconcile_`` pair, the department
pivot (``src/DataObject.ts:114-122``), the invoice line assembly
(``src/DataObject.ts:20-103``) and the date/string scalars of
``src/parse.ts`` and ``src/helpers.ts``.  The rest are the operators
Spark has natively and the reference lacks: as-of, range and interval
joins, set operations, a salted skew join, a Bloom-pruned join, data
profiles, and ``corr_`` subquery decorrelations whose oracles keep the
correlated nested form.

Output conventions (shared with ``plans/flagship.py``):

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
from xero_api_etl_utilities_spark.operators.asof import asof_join_backward
from xero_api_etl_utilities_spark.operators.quality import split_exactly_one
from xero_api_etl_utilities_spark.operators.reconcile import reconcile
from xero_api_etl_utilities_spark.operators.skew import salted_inner_join
from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.plans.flagship import DEC, money, money_out
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
        money_out(money(F.col("l_extendedprice"))).alias("amount"),
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
        money(F.col("o_totalprice")).alias("amount"),
    )
    return keyed.filter(
        F.col("priority_key").isNotNull() & (F.abs(F.round(F.col("amount"), 2)) != 0)
    ).select("o_orderkey", "priority_key", money_out(F.col("amount")).alias("amount"))


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
            money(F.col("l_extendedprice"))
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
        money(F.col("l_extendedprice")).alias("amount"),
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
        money_out(F.col("amount")).alias("amount"),
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
        money_out(F.col("amount")).alias("amount"),
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
            money_out(money(F.col("c_acctbal"))).alias("acctbal"),
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
            money_out(money(F.col("o_totalprice"))).alias("total_price"),
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
        money(F.col("l_extendedprice")).alias("amount"),
    )
    charges = base.filter(F.col("l_returnflag") == "A").select(
        "l_orderkey", "l_linenumber",
        money_out(F.col("amount")).alias("amount"),
        F.lit(False).alias("is_credit"),
    )
    credits = base.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_linenumber",
        money_out(-F.col("amount")).alias("amount"),
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

    # the per-line string formatting + sorted
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
        F.round(money(F.col("l_extendedprice")), 2).cast("string"),
    )
    return li.groupBy(F.col("l_orderkey").alias("order_id")).agg(
        F.count(F.lit(1)).alias("line_count"),
        F.array_join(F.array_sort(F.collect_list(line)), "|").alias("lines"),
        money_out(F.sum(money(F.col("l_extendedprice")))).alias("invoice_total"),
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
    amt = money(F.col("l_extendedprice"))
    tax = F.coalesce(F.nullif(money(F.col("l_tax")), F.lit(0).cast(DEC)), F.lit(0).cast(DEC))
    return li.select(
        "l_orderkey", "l_linenumber",
        money_out(F.abs(-amt)).alias("abs_neg_amount"),
        money_out(F.round(amt, 2)).alias("rounded"),
        money_out(tax * 11).alias("gst_scaled"),
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


def set_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-family completion — SQL SET ALGEBRA over two customer
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
        .agg(F.sum(money(F.col("value"))))
    )
    return piv.select(
        "user_id",
        *[
            money_out(F.coalesce(F.col(t), F.lit(0).cast("decimal(12,2)"))).alias(f"{t}_total")
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


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the four lineitem measures rotate from columns
    into (measure, value) rows — the inverse of pivot_event_values,
    completing the reshape pair. Spark expands the wide row in the
    scan projection (an Expand node, no shuffle, no UDF); the rollup
    after is an ordinary partial+final aggregate per measure."""
    li = load_table(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    return (
        li.select("l_returnflag", *[money(F.col(m)).alias(m) for m in measures])
        .unpivot(
            ids=["l_returnflag"],
            values=measures,
            variableColumnName="measure",
            valueColumnName="value",
        )
        .groupBy("l_returnflag", "measure")
        .agg(
            money_out(F.sum("value")).alias("total"),
            money_out(F.max("value")).alias("max_value"),
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


def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profile of the orders table
    (operators/profile.py): every column's null/distinct/min/max from
    ONE scan + ONE aggregation — the pre-ingest data-quality survey.
    Money pre-casts to DECIMAL and dates to DATE so the stringified
    min/max render identically in both engines (raw DOUBLE→VARCHAR
    formatting is engine-specific; DECIMAL's is not)."""
    from xero_api_etl_utilities_spark.operators.profile import profile_columns

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        money(F.col("o_totalprice")).alias("o_totalprice"),
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_orderpriority",
    )
    return profile_columns(
        od,
        [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ],
    )


def _profile_orders_oracle() -> str:
    cols = {
        "o_orderkey": "o_orderkey",
        "o_custkey": "o_custkey",
        "o_orderstatus": "o_orderstatus",
        "o_totalprice": "CAST(o_totalprice AS DECIMAL(12,2))",
        "o_orderdate": "CAST(o_orderdate AS DATE)",
        "o_orderpriority": "o_orderpriority",
    }
    parts = [
        f"""SELECT '{name}' AS "column",
  CAST(COUNT(*) FILTER ({expr} IS NULL) AS BIGINT) AS n_nulls,
  CAST(COUNT(DISTINCT {expr}) AS BIGINT) AS n_distinct,
  CAST(MIN({expr}) AS VARCHAR) AS min_value,
  CAST(MAX({expr}) AS VARCHAR) AS max_value
FROM orders"""
        for name, expr in cols.items()
    ]
    return "\nUNION ALL\n".join(parts)


register("profile_orders", profile_orders, _profile_orders_oracle)


def profile_orders_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented 100 TB profiling path, itself verified: the
    same single-pass profile with every per-column distinct count ALSO
    computed as an HLL++ sketch (rsd 2%) and a per-column approx_ok
    asserting the sketch lands within 5% of the exact count — the
    'checked' mode of operators/profile.py. In production the 'approx'
    mode drops the exact aggregates (and with them the 28-way
    n-distinct Expand) entirely; this query is the gate that keeps
    that swap honest."""
    from xero_api_etl_utilities_spark.operators.profile import profile_columns

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        money(F.col("o_totalprice")).alias("o_totalprice"),
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_orderpriority",
    )
    return profile_columns(
        od,
        [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ],
        distinct_mode="checked",
    )


def _profile_orders_approx_oracle() -> str:
    return _profile_orders_oracle().replace(
        "AS max_value", "AS max_value, TRUE AS approx_ok"
    )


register(
    "profile_orders_approx", profile_orders_approx, _profile_orders_approx_oracle
)


def nested_invoice_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics over NESTED documents via higher-order functions
    — assemble order→lines array-of-structs (the D1/D2 document
    shape), then compute per-document measures WITHOUT re-flattening:
    aggregate(filter(...)) folds, exists(...), array_max(transform(...))
    all run inside the row, zero extra shuffle after the one assembly
    groupBy. The oracle computes the same measures from the FLAT
    relational form — proving the nested/flat duality: a user holding
    pre-nested documents (the common lakehouse layout for
    order/invoice data) gets identical answers without exploding
    billions of line rows back out. All measures integer."""
    from xero_api_etl_utilities_spark.operators.materialize import (
        compute_width,
    )

    # the document-assembly collect_list partial
    # aggregation ran on the single-task lineitem scan; the groupBy
    # reuses the explicit orderkey partitioning.  Every per-doc measure
    # is order-independent (integer fold, exists, max, size).
    li = compute_width(
        load_table(spark, sf_dir, "lineitem"), "l_orderkey"
    ).select(
        "l_orderkey",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_returnflag").alias("flag"),
    )
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(F.struct("qty", "cents", "flag")).alias("lines")
    )
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    docs = od.join(nested, od.o_orderkey == nested.l_orderkey)
    heavy_cents = F.aggregate(
        F.filter("lines", lambda x: x["qty"] >= 30),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x["cents"],
    )
    has_return = F.exists("lines", lambda x: x["flag"] == "R")
    max_qty = F.array_max(F.transform("lines", lambda x: x["qty"]))
    per_doc = docs.select(
        "o_orderpriority",
        F.size("lines").alias("n_lines"),
        heavy_cents.alias("heavy_cents"),
        has_return.cast("int").alias("has_return"),
        max_qty.alias("max_qty"),
    )
    return (
        per_doc.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("n_lines").cast("bigint").alias("n_lines"),
            F.sum("has_return").cast("bigint").alias("n_with_return"),
            F.sum("heavy_cents").cast("bigint").alias("sum_heavy_cents"),
            F.max("max_qty").cast("bigint").alias("max_qty"),
        )
        .orderBy("o_orderpriority")
    )


register(
    "nested_invoice_stats",
    nested_invoice_stats,
    """
WITH per_doc AS (
  SELECT o_orderkey, o_orderpriority,
    COUNT(*) AS n_lines,
    SUM(CASE WHEN CAST(l_quantity AS BIGINT) >= 30
             THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END)
      AS heavy_cents,
    CASE WHEN BOOL_OR(l_returnflag = 'R') THEN 1 ELSE 0 END AS has_return,
    MAX(CAST(l_quantity AS BIGINT)) AS max_qty
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY o_orderkey, o_orderpriority
)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(n_lines) AS BIGINT) AS n_lines,
  CAST(SUM(has_return) AS BIGINT) AS n_with_return,
  CAST(SUM(heavy_cents) AS BIGINT) AS sum_heavy_cents,
  CAST(MAX(max_qty) AS BIGINT) AS max_qty
FROM per_doc
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)


def skewed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events slice with a deliberate degenerate hot key: ~30% of rows
    map to default uid 0 (mirroring the reference's 10528 default
    account), the rest keep their user id."""
    ev = load_table(spark, sf_dir, "events")
    uid = F.when(F.pmod(F.col("user_id"), F.lit(10)) < 3, F.lit(0)).otherwise(
        F.col("user_id")
    )
    return ev.select(uid.cast("bigint").alias("uid"), "event_type", "value")


def join_skewed_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join, salted: the left side's degenerate key is sharded
    8 ways (deterministic hash of its payload columns, no rand()) and
    the dimension replicated once per shard, so the hot key occupies 8
    tasks instead of one. The post-join rollup
    groups on the dimension attribute — map-side partial aggregation
    absorbs the re-concentration, so no stage sees the hot key whole.
    """
    left = skewed_events(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("uid"), "c_mktsegment"
    )
    joined = salted_inner_join(left, dim, on="uid")
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("uid").cast("bigint").alias("n_users"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


register(
    "join_skewed_salted",
    join_skewed_salted,
    """
WITH skewed AS (
  SELECT CASE WHEN user_id % 10 < 3 THEN 0 ELSE user_id END AS uid,
         event_type, value
  FROM events
)
SELECT c.c_mktsegment AS segment,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COUNT(DISTINCT s.uid) AS BIGINT) AS n_users,
  CAST(ROUND(SUM(CAST(s.value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
FROM skewed s JOIN customer c ON s.uid = c.c_custkey
GROUP BY c.c_mktsegment
""",
)


def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit runtime-filter join — Spark's InjectRuntimeFilter
    pattern, hand-built so it is visible, testable, and portable. The
    selective build side (orders with o_totalprice > 490000) emits a
    bounded md5 bloom bit-set (operators/bloom.py, 8192 bits / 128
    bigint words via a bit_or aggregate) that is pushed into the
    LINEITEM scan as a literal-array membership filter: a fact row
    failing the test never leaves its input task, so at 100 TB the
    orderkey shuffle carries only the ~surviving fraction. The exact
    semi join afterwards removes bloom false positives, which is why
    the oracle is the PLAIN semi join — no false negatives, provably
    identical rows."""
    from xero_api_etl_utilities_spark.operators.bloom import bloom_pruned_semi_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    od = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 490000)
        .select("o_orderkey")
    )
    kept = bloom_pruned_semi_join(li, od, "l_orderkey", "o_orderkey")
    return (
        kept.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("l_quantity").cast("bigint").alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


register(
    "join_bloom_pruned",
    join_bloom_pruned,
    """
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_lines,
  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 490000)
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)


def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store POINT-IN-TIME join — fetch,
    for each (entity, as-of version) probe, the attribute version that
    was valid THEN: the op that keeps training data leakage-free
    (training rows must see features as they were, never later
    rewrites). History is the ``merge_scd2_history`` SCD2 frame (v1 rows everywhere, v2
    re-writes on every 7th order); probes ask half the orders at
    as-of=1 and half at as-of=2. Lowering: the asof operator's
    union-sort-window on (key, version) — proving it generalizes
    beyond timestamps to any ordered version axis — one shuffle, no
    range join. Oracle: the correlated max-version subquery."""
    od = load_table(spark, sf_dir, "orders")
    history = (
        od.select(
            "o_orderkey",
            F.col("o_orderpriority").alias("prio"),
            F.lit(1).alias("version"),
        )
        .unionByName(
            od.filter(F.col("o_orderkey") % 7 == 0).select(
                "o_orderkey",
                F.lit("0-REPRIORITIZED").alias("prio"),
                F.lit(2).alias("version"),
            )
        )
    )
    probes = od.select(
        "o_orderkey",
        (F.when(F.col("o_orderkey") % 2 == 0, 1).otherwise(2)).alias("as_of_v"),
    )
    from xero_api_etl_utilities_spark.operators.asof import asof_join_backward

    joined = asof_join_backward(
        probes,
        history,
        on="o_orderkey",
        left_ts="as_of_v",
        right_ts="version",
        right_cols=["prio"],
    )
    return joined.select(
        "o_orderkey",
        "as_of_v",
        F.col("prio").alias("prio_at_time"),
    ).orderBy("o_orderkey", "as_of_v")


register(
    "join_point_in_time",
    join_point_in_time,
    """
WITH history AS (
  SELECT o_orderkey, o_orderpriority AS prio, 1 AS version FROM orders
  UNION ALL
  SELECT o_orderkey, '0-REPRIORITIZED', 2 FROM orders WHERE o_orderkey % 7 = 0
),
probes AS (
  SELECT o_orderkey, CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS as_of_v
  FROM orders
)
SELECT p.o_orderkey, p.as_of_v,
  (SELECT h.prio FROM history h
   WHERE h.o_orderkey = p.o_orderkey AND h.version <= p.as_of_v
   ORDER BY h.version DESC LIMIT 1) AS prio_at_time
FROM probes p
ORDER BY p.o_orderkey, p.as_of_v
""",
)


_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"


def _cents() -> F.Column:
    """``o_totalprice`` in integer cents — the Spark twin of ``_CENTS``."""
    return F.round(F.col("o_totalprice") * 100).cast("long")


# ---------------------------------------------------------------------------
# quantified > ALL with empty-subquery semantics
# ---------------------------------------------------------------------------


def corr_all_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """January-1997 orders whose total (cents) beats ALL of the
    same customer's 1996 orders.  ``> ALL (empty set)`` is TRUE, so a
    customer with no 1996 history qualifies automatically — the edge a
    naive inner join against the per-customer 1996 max silently drops.

    Decorrelated shape: the correlated ``> ALL`` collapses to a
    per-customer MAX aggregate (customer-grain, one shuffle) LEFT-
    joined onto the probe month, with ``max IS NULL OR cents > max``.
    The probe side is one pushed-down month scan; the 1996 aggregate
    shuffles once on the customer key."""
    od = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    cur = od.filter(
        (d >= F.lit("1997-01-01")) & (d <= F.lit("1997-01-31"))
    ).select("o_orderkey", "o_custkey", _cents().alias("cents"))
    prior = (
        od.filter((d >= F.lit("1996-01-01")) & (d <= F.lit("1996-12-31")))
        .groupBy("o_custkey")
        .agg(F.max(_cents()).alias("_pmax"))
    )
    return (
        cur.join(prior, "o_custkey", "left")
        .filter(F.col("_pmax").isNull() | (F.col("cents") > F.col("_pmax")))
        .select("o_orderkey", "o_custkey", "cents")
        .orderBy("o_orderkey")
    )


register(
    "corr_all_quantified",
    corr_all_quantified,
    f"""
SELECT o_orderkey, o_custkey, {_CENTS} AS cents
FROM orders o
WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-01-31'
  AND {_CENTS} > ALL (
      SELECT CAST(round(o2.o_totalprice * 100) AS BIGINT)
      FROM orders o2
      WHERE o2.o_custkey = o.o_custkey
        AND CAST(o2.o_orderdate AS DATE)
            BETWEEN DATE '1996-01-01' AND DATE '1996-12-31')
ORDER BY o_orderkey
""",
)


# ---------------------------------------------------------------------------
# NOT IN with a NULL-poisoned subquery (three-valued logic)
# ---------------------------------------------------------------------------


def corr_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``NOT IN`` null trap, both branches in one row.

    ``x NOT IN (S)`` is never TRUE when S contains a NULL (x <> NULL
    is UNKNOWN), so one poisoned value empties the whole result — the
    single most common silent-wrongness bug when engines (or humans)
    lower NOT IN to a plain anti-join.  Columns:

    * ``n_clean`` — customers with no urgent order (plain anti-join);
    * ``n_poisoned_hit`` — same subquery with ``NULLIF(key, 42)``;
      customer 42 HAS urgent orders at every test sf, so the subquery
      contains NULL and the correct answer is 0;
    * ``n_poisoned_miss`` — ``NULLIF(key, -7)`` never fires, so the
      correct answer equals ``n_clean``.

    Decorrelated shape: ONE distinct urgent-customer frame feeds a
    LEFT-ANTI count plus two 1-row null-presence guards; the poisoned
    counts are ``CASE WHEN null_present THEN 0 ELSE anti_count END``.
    Everything after the distinct is dimension-grain."""
    cust = load_table(spark, sf_dir, "customer")
    sub = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    n_clean = cust.join(
        sub, cust.c_custkey == sub.o_custkey, "left_anti"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    guards = sub.agg(
        F.max((F.col("o_custkey") == 42).cast("int")).alias("_hit"),
        F.max((F.col("o_custkey") == -7).cast("int")).alias("_miss"),
    )
    return n_clean.crossJoin(F.broadcast(guards)).select(
        F.col("_n").alias("n_clean"),
        F.when(F.col("_hit") == 1, F.lit(0))
        .otherwise(F.col("_n"))
        .cast("bigint")
        .alias("n_poisoned_hit"),
        F.when(F.col("_miss") == 1, F.lit(0))
        .otherwise(F.col("_n"))
        .cast("bigint")
        .alias("n_poisoned_miss"),
    )


register(
    "corr_not_in_null_trap",
    corr_not_in_null_trap,
    """
SELECT
  (SELECT count(*) FROM customer
   WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                           WHERE o_orderpriority = '1-URGENT'))::BIGINT
      AS n_clean,
  (SELECT count(*) FROM customer
   WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 42) FROM orders
                           WHERE o_orderpriority = '1-URGENT'))::BIGINT
      AS n_poisoned_hit,
  (SELECT count(*) FROM customer
   WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, -7) FROM orders
                           WHERE o_orderpriority = '1-URGENT'))::BIGINT
      AS n_poisoned_miss
""",
)


# ---------------------------------------------------------------------------
# correlated scalar aggregate referenced twice
# ---------------------------------------------------------------------------


def corr_scalar_select_twice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per customer-with-orders, the order count and how many of
    their orders beat their OWN average order value — the correlated
    scalar (count / sum over the same customer's orders) appearing in
    both the SELECT list and a derived predicate; the oracle nests it
    three deep.

    Exactness: "above own average" as integer cross-multiplication
    ``cents * n > sum_cents`` — no float division on either engine.
    Decorrelated shape: ONE customer-partitioned window pass attaches
    (n, sum) to every order row, then a same-key groupBy (no second
    exchange — the partitioning is reused) counts the winners."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_custkey", _cents().alias("_c")
    )
    w = Window.partitionBy("o_custkey")
    x = od.withColumn("_n", F.count(F.lit(1)).over(w)).withColumn(
        "_s", F.sum("_c").over(w)
    )
    return (
        x.groupBy("o_custkey")
        .agg(
            F.max("_n").cast("bigint").alias("n_orders"),
            F.sum(
                F.when(F.col("_c") * F.col("_n") > F.col("_s"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_above_own_avg"),
        )
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "n_orders",
            "n_above_own_avg",
        )
        .orderBy("c_custkey")
    )


register(
    "corr_scalar_select_twice",
    corr_scalar_select_twice,
    """
SELECT c_custkey,
  (SELECT count(*) FROM orders o
   WHERE o.o_custkey = c.c_custkey)::BIGINT AS n_orders,
  (SELECT count(*) FROM orders o
   WHERE o.o_custkey = c.c_custkey
     AND CAST(round(o.o_totalprice * 100) AS BIGINT)
         * (SELECT count(*) FROM orders o3
            WHERE o3.o_custkey = c.c_custkey)
         > (SELECT sum(CAST(round(o2.o_totalprice * 100) AS BIGINT))
            FROM orders o2
            WHERE o2.o_custkey = c.c_custkey))::BIGINT AS n_above_own_avg
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey
""",
)


# ---------------------------------------------------------------------------
# two-level nested correlation (EXISTS over an inner scalar)
# ---------------------------------------------------------------------------


def corr_nested_exists_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who, in March 1996, shipped at least one line
    whose quantity tops 1.9x the ALL-TIME average quantity of that
    line's part — the inner scalar correlates to the MIDDLE query's
    row (``l.l_partkey``), the EXISTS to the OUTER supplier, and the
    middle filter set (one month) deliberately differs from the inner
    aggregate's (all history), so a lowering that conflates the two
    scopes fails the hash.

    Exactness: 1.9x as ``10*qty*cnt > 19*sum`` in BIGINT.
    Decorrelated shape: per-part (count, sum) aggregate joined back on
    the part key (co-partitioned shuffle join), the month filter
    pushed to the probe scan, distinct supplier keys (dimension-grain)
    broadcast-semi-joined onto supplier."""
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    qty = F.col("l_quantity").cast("long")
    part_stats = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("_pc"), F.sum(qty).alias("_ps")
    )
    d = F.col("l_shipdate").cast("date")
    cand = (
        li.filter((d >= F.lit("1996-03-01")) & (d <= F.lit("1996-03-31")))
        .join(part_stats, "l_partkey")
        .filter(qty * 10 * F.col("_pc") > 19 * F.col("_ps"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        su.join(
            F.broadcast(cand), su.s_suppkey == cand.l_suppkey, "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


register(
    "corr_nested_exists_scalar",
    corr_nested_exists_scalar,
    """
SELECT s_suppkey, s_name
FROM supplier s
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_suppkey = s.s_suppkey
    AND CAST(l.l_shipdate AS DATE) BETWEEN DATE '1996-03-01'
                                       AND DATE '1996-03-31'
    AND CAST(l.l_quantity AS BIGINT) * 10
        * (SELECT count(*) FROM lineitem l2
           WHERE l2.l_partkey = l.l_partkey)
        > 19 * (SELECT CAST(sum(l3.l_quantity) AS BIGINT) FROM lineitem l3
                WHERE l3.l_partkey = l.l_partkey))
ORDER BY s_suppkey
""",
)


# ---------------------------------------------------------------------------
# correlated argmin with the multi-way join inside the subquery
# ---------------------------------------------------------------------------


def corr_argmin_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each LARGE part in a size bucket, the ASIA supplier(s)
    whose cheapest offer matches the part's minimum offer cost across
    ALL of ASIA.  The oracle's correlated subquery repeats the whole
    lineitem⋈supplier⋈nation⋈region join per outer row; the Spark plan
    decorrelates it to one (partkey, suppkey)-grain aggregate plus a
    partkey-partitioned window MIN (never a second fact scan, never a
    join-back).

    100 TB shape: the supplier⋈nation⋈region eligibility dim and the
    filtered part dim broadcast; the only fact-sized shuffle is the
    offers groupBy (partitioned on the part key, so the window MIN
    re-partitions only the tiny offers frame).  Ties on the minimum
    survive (TPC-H semantics); output set is deterministic."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re_ = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dim = (
        su.join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re_), na.n_regionkey == re_.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    pa = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & F.col("p_size").isin(2, 12, 22, 32, 42)
    )
    offers = (
        li.join(F.broadcast(pa.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(dim), li.l_suppkey == dim.s_suppkey)
        .groupBy("l_partkey", "s_suppkey", "s_name", "n_name")
        .agg(F.min(money(F.col("l_extendedprice"))).alias("cost"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        offers.withColumn("part_min", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("part_min"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_suppkey",
            "s_name",
            "n_name",
            money_out(F.col("cost")).alias("min_cost"),
        )
        .orderBy("p_partkey", "s_suppkey")
    )


register(
    "corr_argmin_multiway",
    corr_argmin_multiway,
    """
SELECT p_partkey, s_suppkey, s_name, n_name,
       CAST(ROUND(cost, 2) AS DOUBLE) AS min_cost
FROM (
  SELECT p.p_partkey, s.s_suppkey, s.s_name, n.n_name,
         MIN(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS cost
  FROM part p
  JOIN lineitem l ON l.l_partkey = p.p_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE p.p_type = 'LARGE' AND p.p_size IN (2, 12, 22, 32, 42)
    AND r.r_name = 'ASIA'
  GROUP BY 1, 2, 3, 4
) o
WHERE o.cost = (
  SELECT MIN(CAST(l2.l_extendedprice AS DECIMAL(12,2)))
  FROM lineitem l2
  JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
  JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
  JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
  WHERE r2.r_name = 'ASIA' AND l2.l_partkey = o.p_partkey)
ORDER BY p_partkey, s_suppkey
""",
)


# ---------------------------------------------------------------------------
# group HAVING vs a global scalar fraction, scalar referenced twice
# ---------------------------------------------------------------------------


def corr_having_global_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations whose customers' total order value exceeds 4% of
    the GLOBAL total, with each survivor's share in rounded basis
    points.  The oracle references the scalar total subquery twice
    (HAVING threshold + SELECT share); the Spark plan computes the
    per-nation aggregate ONCE, re-aggregates the tiny 25-row frame for
    the total, and embeds it as a driver literal (the documented q11
    pattern — a join attach either nested-loops a conditionless 1-row
    build or constant-folds the key away).

    Exactness: all money moves as integer cents; the 4% threshold is
    ``rev * 25 > total`` and the share is the rounded integer division
    ``(20000*rev + total) div (2*total)`` — both engines truncate
    integer division toward zero and every operand is positive, so the
    hash certifies bit equality with no float division anywhere.
    (Bounded-sf note: 20000×total_cents stays far inside int64 at
    catalog scale; a 100 TB run lifts the multiply into decimal(38,0),
    same plan shape.)

    100 TB shape: one fact-sized shuffle (groupBy nation after two
    broadcast dim joins); everything after is a 25-row frame."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    cu = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    na = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_nation = (
        od.join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    from xero_api_etl_utilities_spark.operators.materialize import materialize

    # 25-row frame feeding BOTH the scalar total and the output branch:
    # without materialization the fact aggregate re-executes per branch
    # (no ReusedExchange — the measured q11 result, PLANS.md).
    per_nation = materialize(per_nation)
    total = per_nation.agg(F.sum("rev_cents").alias("t")).collect()[0]["t"]
    return (
        per_nation.filter(F.col("rev_cents") * 25 > F.lit(total))
        .select(
            "n_name",
            "rev_cents",
            F.expr(
                f"CAST((20000 * rev_cents + {total}L) div (2 * {total}L) AS BIGINT)"
            ).alias("share_bp"),
        )
        .orderBy(F.desc("rev_cents"), "n_name")
    )


register(
    "corr_having_global_share",
    corr_having_global_share,
    """
WITH nv AS (
  SELECT n_name,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY n_name
)
SELECT n_name, rev_cents,
  CAST((20000 * rev_cents + (SELECT CAST(SUM(rev_cents) AS BIGINT) FROM nv))
       // (2 * (SELECT CAST(SUM(rev_cents) AS BIGINT) FROM nv)) AS BIGINT)
    AS share_bp
FROM nv
WHERE rev_cents * 25 > (SELECT CAST(SUM(rev_cents) AS BIGINT) FROM nv)
ORDER BY rev_cents DESC, n_name
""",
)


# ---------------------------------------------------------------------------
# NOT IN (nested IN subquery) + COUNT DISTINCT after join
# ---------------------------------------------------------------------------


def corr_notin_countdistinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 1996 customers per (market segment, order
    priority), excluding every customer of the NATION_1* nation block
    — the oracle nests an IN subquery inside a NOT IN.  Decorrelated:
    the exclusion list is customer ⋉ (LIKE-filtered nation), lowered
    to a broadcast LEFT ANTI join — exact because ``c_custkey`` is a
    primary key, provably null-free (the NULL-poisoned NOT IN contract
    is ``corr_not_in_null_trap``'s).

    100 TB shape: the date filter pushes to the orders scan; customer
    attributes and the exclusion list broadcast; the one fact-sized
    shuffle is the count-distinct aggregate, whose (group, custkey)
    pairs collapse map-side first."""
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date").between("1996-01-01", "1996-12-31")
    )
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation").filter(F.col("n_name").like("NATION_1%"))
    excl = cu.join(
        F.broadcast(na), cu.c_nationkey == na.n_nationkey, "left_semi"
    ).select("c_custkey")
    return (
        od.join(
            F.broadcast(cu.select("c_custkey", "c_mktsegment")),
            od.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(excl.withColumnRenamed("c_custkey", "x_custkey")),
            F.col("o_custkey") == F.col("x_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.countDistinct("o_custkey").cast("bigint").alias("cust_cnt"))
        .orderBy("c_mktsegment", "o_orderpriority")
    )


register(
    "corr_notin_countdistinct",
    corr_notin_countdistinct,
    """
SELECT c_mktsegment, o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS cust_cnt
FROM orders
JOIN customer ON c_custkey = o_custkey
WHERE CAST(o_orderdate AS DATE)
        BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
  AND o_custkey NOT IN (
    SELECT c2.c_custkey FROM customer c2
    WHERE c2.c_nationkey IN (
      SELECT n_nationkey FROM nation WHERE n_name LIKE 'NATION_1%'))
GROUP BY c_mktsegment, o_orderpriority
ORDER BY c_mktsegment, o_orderpriority
""",
)
