"""Scale-shaped catalog queries (round 3): operators whose POINT is
the physical plan under skew/scale, oracled like everything else.

The reference's charge table is dominated by one degenerate default
account (``src/chargesFunctions.ts`` routes everything without an
explicit account to store account "10528") — the classic hot-key join.
``join_skewed_salted`` reproduces that shape on the events table:
~30% of events collapse onto one "default user" key, then join a
customer dimension through :func:`salted_inner_join`, which shards the
hot key across ``salt`` tasks instead of pinning one straggler. The
result is row-identical to the plain equi-join (the oracle IS the
plain join), so correctness pins the salting's no-op semantics while
the plan assertion (tools/explain_audit.py) pins its salted shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators.fuzzy import fuzzy_pairs_distance1
from xero_api_etl_utilities_spark.operators.skew import salted_inner_join
from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.sources.parquet import load_table

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


def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 entity resolution over customer names via the
    deletion-neighborhood (SymSpell) join (operators/fuzzy.py):
    candidates from a LINEAR variant explode + equi-join, exact
    levenshtein verify, pair dedup — never a quadratic cross-join.
    The oracle IS the quadratic form (DuckDB levenshtein over the
    i<j self-join), so correctness proves the neighborhood's recall
    is complete for distance ≤ 1. Summarized per nation of the
    lower-key customer."""
    cu = load_table(spark, sf_dir, "customer")
    pairs = fuzzy_pairs_distance1(cu, id_col="c_custkey", name_col="c_name")
    nat = cu.select(F.col("c_custkey").alias("id_a"), "c_nationkey")
    return (
        pairs.join(F.broadcast(nat), "id_a")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("id_a").alias("n_anchors"),
        )
    )


register(
    "fuzzy_name_match",
    fuzzy_name_match,
    """
WITH pairs AS (
  -- Still the quadratic i<j self-join (independent of the SymSpell
  -- neighborhood), but the distance test is split exactly: for
  -- equal-length strings lev<=1 iff hamming<=1 (the single edit must
  -- be a substitution; ins/del change length), and a length gap of 1
  -- is the only other way lev<=1 can hold.  hamming is O(L) vs the
  -- O(L^2) DP, taking the sf0.1 oracle from ~115 s to ~4 s with
  -- byte-identical output.
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
  FROM customer a JOIN customer b
    ON a.c_custkey < b.c_custkey
   AND CASE WHEN length(a.c_name) = length(b.c_name)
            THEN hamming(a.c_name, b.c_name) <= 1
            WHEN abs(length(a.c_name) - length(b.c_name)) = 1
            THEN levenshtein(a.c_name, b.c_name) <= 1
            ELSE FALSE END
)
SELECT a.c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(COUNT(DISTINCT p.id_a) AS BIGINT) AS n_anchors
FROM pairs p JOIN customer a ON p.id_a = a.c_custkey
GROUP BY a.c_nationkey
""",
)


def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X43: explicit runtime-filter join — Spark's InjectRuntimeFilter
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


def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X44: Z-order (Morton) layout assignment — the multi-dimension
    clustering key behind Delta/Iceberg OPTIMIZE ZORDER. Each order is
    keyed by interleaving 16 bits of customer and 16 bits of
    order-day (functions/zorder.py, pure literal-shift codegen); the
    top 8 z-bits are the target file bucket. The result reports each
    bucket's row count and its min/max span in BOTH dimensions — the
    evidence that every file covers a narrow rectangle, i.e. min/max
    skipping prunes on either predicate column. Zero shuffles besides
    the one stats groupBy; the z-value itself is a scan projection.
    The DuckDB oracle re-runs the same generated bit expression, so
    the encoding is hash-verified cross-engine."""
    from xero_api_etl_utilities_spark.functions.zorder import z_interleave16

    od = load_table(spark, sf_dir, "orders")
    # 10-bit dims (this corpus spans ~1.5k customers / ~1.4k days, so
    # 10 masked bits fill the range; at larger scale widen the masks
    # and the bucket shift together) -> z < 2^20, top 8 bits = bucket
    x = F.col("o_custkey").bitwiseAND(F.lit(1023))
    y = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
    ).bitwiseAND(F.lit(1023))
    z = z_interleave16(x, y)
    return (
        od.select(x.alias("xd"), y.alias("yd"), z.alias("zval"))
        .withColumn("bucket", F.shiftright(F.col("zval"), 12))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("xd").alias("x_min"),
            F.max("xd").alias("x_max"),
            F.min("yd").alias("y_min"),
            F.max("yd").alias("y_max"),
        )
        .orderBy("bucket")
    )


def _zorder_oracle() -> str:
    from xero_api_etl_utilities_spark.functions.zorder import z_interleave16_sql

    z = z_interleave16_sql("xd", "yd")
    return f"""
WITH dims AS (
  SELECT CAST(o_custkey AS BIGINT) & 1023 AS xd,
    CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
         AS BIGINT) & 1023 AS yd
  FROM orders
),
keyed AS (SELECT xd, yd, {z} AS zval FROM dims)
SELECT zval >> 12 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
  MIN(xd) AS x_min, MAX(xd) AS x_max, MIN(yd) AS y_min, MAX(yd) AS y_max
FROM keyed
GROUP BY bucket
ORDER BY bucket
"""


register("layout_zorder_stats", layout_zorder_stats, _zorder_oracle)


def layout_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X137: the partition-column advisor — for each CANDIDATE
    partition column of the fact table, the three numbers that decide
    a physical layout (distinct values, mean rows per value, heaviest
    value's skew vs that mean) plus a rule verdict: 'one_value'
    (partitioning is a no-op), 'too_granular' (mean partition under
    1000 rows — small-file storm), 'skewed' (heaviest value > 5x the
    mean — stragglers), else 'ok'.  The advisory every lakehouse
    writes by hand; here it is ONE scan: the candidates unpivot
    in-row via ``stack`` and a single (column, value) aggregate feeds
    a column-grain rollup — adding a candidate is adding a stack
    entry, never a pass.

    Value grain is stringified (partition directories are strings
    anyway); verdict thresholds are integers so the row hashes."""
    od = load_table(spark, sf_dir, "orders")
    cands = od.select(
        F.expr(
            "stack(4,"
            " 'o_orderdate', cast(o_orderdate as string),"
            " 'o_orderpriority', cast(o_orderpriority as string),"
            " 'o_orderstatus', cast(o_orderstatus as string),"
            " 'o_custkey', cast(o_custkey as string)"
            ") as (col, val)"
        )
    )
    per_val = cands.groupBy("col", "val").agg(F.count(F.lit(1)).alias("n"))
    per_col = per_val.groupBy("col").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_value_rows"),
    )
    avg_rows = F.expr("n_rows div n_values")
    skew = F.expr("max_value_rows * 100 div (n_rows div n_values)")
    verdict = (
        F.when(F.col("n_values") <= 1, F.lit("one_value"))
        .when(avg_rows < 1000, F.lit("too_granular"))
        .when(skew > 500, F.lit("skewed"))
        .otherwise(F.lit("ok"))
    )
    return (
        per_col.select(
            "col",
            "n_values",
            "n_rows",
            avg_rows.alias("avg_rows_per_value"),
            "max_value_rows",
            skew.alias("skew_x100"),
            verdict.alias("verdict"),
        )
        .orderBy("col")
    )


_PARTITION_ADVISOR_ORACLE = """
WITH cands AS (
  SELECT 'o_orderdate' AS col, CAST(o_orderdate AS VARCHAR) AS val FROM orders
  UNION ALL
  SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_orderstatus', CAST(o_orderstatus AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
), per_val AS (
  SELECT col, val, count(*)::BIGINT AS n FROM cands GROUP BY 1, 2
), per_col AS (
  SELECT col, count(*)::BIGINT AS n_values, sum(n)::BIGINT AS n_rows,
         max(n)::BIGINT AS max_value_rows
  FROM per_val GROUP BY col
)
SELECT col, n_values, n_rows,
  (n_rows // n_values)::BIGINT AS avg_rows_per_value,
  max_value_rows,
  (max_value_rows * 100 // (n_rows // n_values))::BIGINT AS skew_x100,
  CASE WHEN n_values <= 1 THEN 'one_value'
       WHEN n_rows // n_values < 1000 THEN 'too_granular'
       WHEN max_value_rows * 100 // (n_rows // n_values) > 500 THEN 'skewed'
       ELSE 'ok' END AS verdict
FROM per_col ORDER BY col
"""

register(
    "layout_partition_advisor", layout_partition_advisor, _PARTITION_ADVISOR_ORACLE
)
