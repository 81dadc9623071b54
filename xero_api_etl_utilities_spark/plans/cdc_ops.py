"""Change-data-capture catalog queries: the ``merge_``, ``snapshot_``,
``replica_`` and ``feature_`` families.

Latest-wins snapshot assembly, snapshot diffs, replica anti-entropy,
SCD2 history and the point-in-time feature fetch, over a base table
plus deterministic synthetic change batches derived from the same
parquet (so the oracle sees identical inputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators.merge import merge_latest
from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.plans.flagship import money, money_out
from xero_api_etl_utilities_spark.sources.parquet import load_table


def merge_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics as one aggregation: base orders (v1) +
    an update batch re-prioritizing every 7th order (v2) + a delete
    batch tombstoning every 13th (v2; wins over the update where both
    apply since deletes carry the same version and the update batch
    excludes them). Snapshot = max_by(payload, version) per key, then
    drop tombstone winners — shuffles the KEY once with map-side
    partial collapse, no window sort (operators/merge.py)."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = od.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.lit(1).alias("_v"),
        F.lit(False).alias("_del"),
    )
    updates = (
        od.filter((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 13 != 0))
        .withColumn("o_orderpriority", F.lit("0-REVISED"))
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.lit(2).alias("_v"),
            F.lit(False).alias("_del"),
        )
    )
    deletes = od.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.lit(2).alias("_v"),
        F.lit(True).alias("_del"),
    )
    snapshot = merge_latest(
        base.unionByName(updates).unionByName(deletes),
        key_cols=["o_orderkey"],
        version_col="_v",
        delete_col="_del",
    )
    # summarize so the hashed result is small and stable: per surviving
    # priority, how many orders and how much money
    return snapshot.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_out(F.sum(money(F.col("o_totalprice")))).alias("total_price"),
    )


register(
    "merge_cdc_snapshot",
    merge_cdc_snapshot,
    """
WITH changes AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice, 1 AS v, FALSE AS del
  FROM orders
  UNION ALL
  SELECT o_orderkey, '0-REVISED', o_totalprice, 2 AS v, FALSE AS del
  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderkey, o_orderpriority, o_totalprice, 2 AS v, TRUE AS del
  FROM orders WHERE o_orderkey % 13 = 0
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY v DESC) AS rn
  FROM changes
),
snapshot AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice
  FROM ranked WHERE rn = 1 AND NOT del
)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_price
FROM snapshot
GROUP BY o_orderpriority
""",
)


def snapshot_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse CDC: diff two synthetic snapshot versions of orders —
    v2 revises every 7th order's priority, drops every 13th, and adds
    a shifted-key batch — then summarize the derived change set per
    change_type (operators/merge.snapshot_diff: one full-outer join,
    null-safe struct compare). The key checksum pins WHICH keys
    changed, not just how many."""
    from xero_api_etl_utilities_spark.operators.merge import snapshot_diff

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    new = (
        od.filter(F.col("o_orderkey") % 13 != 0)
        .withColumn(
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("0-REVISED")).otherwise(
                F.col("o_orderpriority")
            ),
        )
        .unionByName(
            od.filter(F.col("o_orderkey") % 11 == 0).select(
                (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
                "o_orderpriority",
                "o_totalprice",
            )
        )
    )
    diff = snapshot_diff(od, new, key_cols=["o_orderkey"])
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
    )


register(
    "snapshot_diff_summary",
    snapshot_diff_summary,
    """
WITH old AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
),
new AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 7 = 0 THEN '0-REVISED' ELSE o_orderpriority END AS o_orderpriority,
    o_totalprice
  FROM orders WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderpriority, o_totalprice
  FROM orders WHERE o_orderkey % 11 = 0
),
diff AS (
  SELECT COALESCE(new.o_orderkey, old.o_orderkey) AS k,
    CASE WHEN old.o_orderkey IS NULL THEN 'added'
         WHEN new.o_orderkey IS NULL THEN 'removed'
         WHEN new.o_orderpriority IS DISTINCT FROM old.o_orderpriority
           OR new.o_totalprice IS DISTINCT FROM old.o_totalprice THEN 'changed'
    END AS change_type
  FROM new FULL OUTER JOIN old ON new.o_orderkey = old.o_orderkey
)
SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
  CAST(SUM(k) AS BIGINT) AS key_checksum
FROM diff WHERE change_type IS NOT NULL
GROUP BY change_type
""",
)


def replica_bucket_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy replica verification — find which of 256
    buckets diverge between two copies of a table WITHOUT comparing
    rows: each side folds to one COMMUTATIVE checksum per bucket
    (sum of md5-derived row hashes — order/partitioning independent
    by integer commutativity, the same property the integerization
    rule exploits everywhere), and only bucket checksums cross the
    wire. At 100 TB that is 256 longs per replica instead of the
    table; diverged buckets then repair by re-sync of those buckets
    alone (Cassandra/Dynamo Merkle-lite, one level). The 'replica'
    here is the same table with a deterministic 3-row corruption
    injected, so the query proves detection: exactly the buckets
    owning a corrupted key differ. Integer-exact; oracle replays both
    sides."""
    from xero_api_etl_utilities_spark.functions.crosshash import h32

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    corrupted = od.select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % 3000 == 7, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )

    def checksums(df):
        row_h = h32(
            F.concat_ws(
                ":",
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                F.col("o_orderstatus"),
            )
        )
        # checksum sums in DECIMAL(38,0) and publishes VARCHAR on BOTH
        # sides: a bucket of n rows sums n · ~2^31 hashes, which outgrows
        # a bigint near 4e9 rows/bucket — real at 100 TB — and DuckDB's
        # HUGEINT sum reaches pandas as float64, which can never hash-match
        # an integer column. String checksums are exact at any sf.
        return (
            df.select((F.col("o_orderkey") % 256).alias("bucket"), row_h.alias("h"))
            .groupBy("bucket")
            .agg(
                F.sum(F.col("h").cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .cast("string")
                .alias("checksum")
            )
        )

    a = checksums(od).withColumnRenamed("checksum", "checksum_primary")
    b = checksums(corrupted).withColumnRenamed("checksum", "checksum_replica")
    return (
        a.join(b, "bucket")
        .filter(F.col("checksum_primary") != F.col("checksum_replica"))
        .orderBy("bucket")
    )


def _replica_diff_oracle() -> str:
    from xero_api_etl_utilities_spark.functions.crosshash import h32_sql

    def cks(status_expr: str, name: str) -> str:
        h = h32_sql(
            "CAST(o_orderkey AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR)"
            f" || ':' || {status_expr}"
        )
        return f"""
{name} AS (
  SELECT o_orderkey % 256 AS bucket,
    CAST(CAST(SUM(CAST({h} AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
  FROM orders GROUP BY 1
)"""

    return f"""
WITH {cks("o_orderstatus", "a")},
{cks("CASE WHEN o_orderkey % 3000 = 7 THEN 'X' ELSE o_orderstatus END", "b")}
SELECT a.bucket AS bucket, a.checksum AS checksum_primary,
  b.checksum AS checksum_replica
FROM a JOIN b ON a.bucket = b.bucket
WHERE a.checksum <> b.checksum
ORDER BY a.bucket
"""


register("replica_bucket_diff", replica_bucket_diff, _replica_diff_oracle)


def merge_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 — instead of
    collapsing the change stream to latest-wins (merge_cdc_snapshot),
    KEEP history as validity intervals: each key's versions ordered by
    change time, valid_from = its timestamp, valid_to = the NEXT
    version's timestamp (lead; NULL = current), is_current flag. The
    change stream is simulated exactly as in merge_cdc_snapshot
    (priority re-writes as v2 on every 7th order); one window per key
    — a single hash partitioning, no join at all. The classic
    warehouse dimension-history build."""
    od = load_table(spark, sf_dir, "orders")
    base = od.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.lit(1).alias("version"),
    )
    updates = (
        od.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            F.lit("0-REPRIORITIZED").alias("prio"),
            F.lit(2).alias("version"),
        )
    )
    changes = base.unionByName(updates)
    from pyspark.sql import Window as W

    w = W.partitionBy("o_orderkey").orderBy("version")
    return (
        changes.select(
            "o_orderkey",
            "prio",
            F.col("version").alias("valid_from_v"),
            (F.lead("version").over(w) - 1).alias("valid_to_v"),
            F.lead("version").over(w).isNull().alias("is_current"),
        )
        .orderBy("o_orderkey", "valid_from_v")
    )


register(
    "merge_scd2_history",
    merge_scd2_history,
    """
WITH changes AS (
  SELECT o_orderkey, o_orderpriority AS prio, 1 AS version FROM orders
  UNION ALL
  SELECT o_orderkey, '0-REPRIORITIZED', 2 FROM orders WHERE o_orderkey % 7 = 0
)
SELECT o_orderkey, prio,
  version AS valid_from_v,
  LEAD(version) OVER (PARTITION BY o_orderkey ORDER BY version) - 1
    AS valid_to_v,
  LEAD(version) OVER (PARTITION BY o_orderkey ORDER BY version) IS NULL
    AS is_current
FROM changes
ORDER BY o_orderkey, valid_from_v
""",
)


def feature_pit_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store CAPSTONE — SCD2 history build composed
    with a point-in-time feature fetch and a training-feature rollup,
    oracled END TO END (integration layers are where stage
    oracles can't see).

    The pipeline a leakage-free training set needs:

    1. *History*: the ACTUAL ``merge_scd2_history`` catalog plan
       (validity intervals valid_from_v/valid_to_v, NULL = current) —
       called, not re-derived, so this query breaks if the SCD2 build
       drifts.
    2. *PIT fetch*: each training probe (order, as-of version, label
       value in integer cents) joins the attribute version whose
       validity interval CONTAINS its as-of — the interval-containment
       lowering, complementary to ``join_point_in_time``'s
       union-sort-window asof: equi-join on the entity key plus an
       interval predicate, fan-out bounded by versions-per-key (<= 2
       here; intervals partition the version axis, so exactly one
       survives).  Training rows can never see a later rewrite.
    3. *Feature rollup*: per (prio_at_time, as_of_v) example counts
       and label mass — the grouped census a feature card publishes.

    Money rides the flagship integer-cents rule (DOUBLE ->
    decimal(12,2) -> x100 -> BIGINT; Spark HALF_UP == DuckDB
    half-away-from-zero), so the hash is digit-exact.  Scale: one
    orders scan per side of the history union, one key-partitioned
    window (the SCD2 build), one equi-join shuffle on the entity key,
    one grouped aggregate — no windows over the probe grain, nothing
    driver-side."""
    history = merge_scd2_history(spark, sf_dir)
    od = load_table(spark, sf_dir, "orders")
    probes = od.select(
        "o_orderkey",
        (F.when(F.col("o_orderkey") % 2 == 0, 1).otherwise(2)).alias(
            "as_of_v"
        ),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    fetched = probes.join(history, "o_orderkey").filter(
        (F.col("valid_from_v") <= F.col("as_of_v"))
        & (
            F.col("valid_to_v").isNull()
            | (F.col("valid_to_v") >= F.col("as_of_v"))
        )
    )
    return (
        fetched.groupBy(
            F.col("prio").alias("prio_at_time"), F.col("as_of_v")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
        .select(
            "prio_at_time",
            F.col("as_of_v").cast("int").alias("as_of_v"),
            "n_orders",
            F.col("revenue_cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("prio_at_time", "as_of_v")
    )


register(
    "feature_pit_scd2",
    feature_pit_scd2,
    """
WITH changes AS (
  SELECT o_orderkey, o_orderpriority AS prio, 1 AS version FROM orders
  UNION ALL
  SELECT o_orderkey, '0-REPRIORITIZED', 2 FROM orders WHERE o_orderkey % 7 = 0
), history AS (
  SELECT o_orderkey, prio,
    version AS valid_from_v,
    LEAD(version) OVER (PARTITION BY o_orderkey ORDER BY version) - 1
      AS valid_to_v
  FROM changes
), probes AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS as_of_v,
    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM orders
), fetched AS (
  SELECT h.prio AS prio_at_time, p.as_of_v, p.cents
  FROM probes p
  JOIN history h ON p.o_orderkey = h.o_orderkey
   AND h.valid_from_v <= p.as_of_v
   AND (h.valid_to_v IS NULL OR h.valid_to_v >= p.as_of_v)
)
SELECT prio_at_time, CAST(as_of_v AS INT) AS as_of_v,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM fetched
GROUP BY 1, 2
ORDER BY prio_at_time, as_of_v
""",
)
