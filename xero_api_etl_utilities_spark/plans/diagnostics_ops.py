"""Data diagnostics and layout catalog queries: the ``diag_``, ``layout_``
and ``fuzzy_`` families.

Key skew, referential integrity, data contracts, functional
dependencies, join-size estimates, distribution drift (total variation,
Kolmogorov-Smirnov, Benford), quality deciles, language-id confusion,
fuzzy name matching, and storage layout advice (z-order, partitioning,
zone maps, shard moves).  The integrity checks generalise the
reference's verification gates (``src/helpers.ts:200-214``); the rest
have no reference counterpart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import h32, h32_sql, py_h32
from xero_api_etl_utilities_spark.operators import events as ev
from xero_api_etl_utilities_spark.operators import textstats as tx
from xero_api_etl_utilities_spark.operators.fuzzy import fuzzy_pairs_distance1
from xero_api_etl_utilities_spark.operators.materialize import compute_width, materialize
from xero_api_etl_utilities_spark.operators.sketches import cms_build
from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.sources.parquet import load_table


def diag_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-detected language CONFUSION census — the
    integration roll-up of the ``text_lang_id`` heuristic against the
    corpus's own ``lang`` labels: one row per (declared, detected)
    cell with its count and its share of the declared language's docs
    in bp.  The diagonal is the labeler's agreement rate; a hot
    off-diagonal cell is either a metadata bug or a marker-list gap —
    the table that decides whether `lang` can be trusted for
    stratified sampling (the ``split_balance_report`` split audit assumes it can).

    One scan, one (declared, detected) aggregate, one declared-grain
    broadcast total — integer bp throughout."""
    docs = load_table(spark, sf_dir, "documents")
    det = docs.select(
        F.col("lang").alias("declared"),
        tx.lang_id(F.col("text")).alias("detected"),
    )
    cell = det.groupBy("declared", "detected").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = cell.groupBy("declared").agg(F.sum("n_docs").alias("_t"))
    return (
        cell.join(F.broadcast(tot), "declared")
        .select(
            "declared",
            "detected",
            "n_docs",
            F.expr("n_docs * 10000 div _t").alias("share_bp"),
        )
        .orderBy("declared", "detected")
    )


register(
    "diag_langid_confusion",
    diag_langid_confusion,
    """
WITH t AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z]+') AS toks
  FROM documents
), hits AS (
  SELECT doc_id, lang,
    len(list_filter(toks, x -> list_contains(['the','and','of','to','a'], x))) AS h_en,
    len(list_filter(toks, x -> list_contains(['der','und','die','das','ist'], x))) AS h_de,
    len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) AS h_fr,
    len(list_filter(toks, x -> list_contains(['el','los','las','una','es'], x))) AS h_es
  FROM t
), det AS (
  SELECT lang AS declared,
    CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
         WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
         WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
         WHEN h_en >= h_de THEN 'en'
         ELSE 'de' END AS detected
  FROM hits
), cell AS (
  SELECT declared, detected, count(*)::BIGINT AS n_docs
  FROM det GROUP BY 1, 2
), tot AS (
  SELECT declared, sum(n_docs)::BIGINT AS t FROM cell GROUP BY 1
)
SELECT c.declared, c.detected, c.n_docs,
  (c.n_docs * 10000 // t.t)::BIGINT AS share_bp
FROM cell c JOIN tot t ON c.declared = t.declared
ORDER BY c.declared, c.detected
""",
)


# ---------------------------------------------------------------------------
# functional-dependency profiler
# ---------------------------------------------------------------------------

_FD_CANDIDATES = [
    ("o_orderkey", "o_custkey"),
    ("o_custkey", "o_orderpriority"),
    ("o_orderdate", "o_orderstatus"),
    ("o_orderkey", "o_orderstatus"),
]


def diag_functional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-profiling classic the FK/contract audits don't
    cover — does column A functionally DETERMINE column B?  A -> B
    holds iff every A value maps to exactly one B value, i.e.
    n_distinct(A, B) == n_distinct(A); the excess (delta) counts the
    extra (A, B) combos violating it.  Candidate list is fixed (a
    key determining two different columns, and two
    expected-to-fail pairs), exercising both verdicts; adding a candidate is
    adding a tuple, never a pass.

    Shape: ONE orders scan, one aggregate with two distinct counts
    per candidate (the multi-count Expand the profile operator
    already uses), then the bounded 4-row report shaped driver-side
    (the diag_data_contract precedent)."""
    od = load_table(spark, sf_dir, "orders")
    # Negative result: repartitioning the
    # 1-task orders scan to compute width before the Expand aggregate
    # measured a WASH (isolated A/B: narrow 0.72–0.87 s vs wide
    # 0.85–1.0 s) — the exchange + extra stage costs what the wide
    # Expand saves at this row count.  Left on the scan partitioning.
    aggs = []
    for i, (lhs, rhs) in enumerate(_FD_CANDIDATES):
        aggs.append(F.countDistinct(F.col(lhs)).alias(f"_l{i}"))
        aggs.append(
            F.countDistinct(F.struct(F.col(lhs), F.col(rhs))).alias(f"_p{i}")
        )
    row = od.agg(*aggs).collect()[0]
    out = []
    for i, (lhs, rhs) in enumerate(_FD_CANDIDATES):
        nl, np_ = int(row[f"_l{i}"]), int(row[f"_p{i}"])
        out.append((lhs, rhs, nl, np_, np_ - nl, np_ == nl))
    return spark.createDataFrame(
        out,
        "lhs string, rhs string, n_lhs bigint, n_lhs_rhs bigint,"
        " delta bigint, holds boolean",
    ).orderBy("lhs", "rhs")


def _fd_oracle() -> str:
    rows = " UNION ALL ".join(
        f"""SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,
  (SELECT count(DISTINCT {lhs}) FROM orders) AS n_lhs,
  (SELECT count(*) FROM (SELECT DISTINCT {lhs}, {rhs} FROM orders)) AS n_lhs_rhs"""
        for lhs, rhs in _FD_CANDIDATES
    )
    return f"""
WITH cand AS ({rows})
SELECT lhs, rhs, CAST(n_lhs AS BIGINT) AS n_lhs,
  CAST(n_lhs_rhs AS BIGINT) AS n_lhs_rhs,
  CAST(n_lhs_rhs - n_lhs AS BIGINT) AS delta,
  n_lhs_rhs = n_lhs AS holds
FROM cand ORDER BY lhs, rhs
"""


register("diag_functional_deps", diag_functional_deps, _fd_oracle)


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


def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout assignment — the multi-dimension
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
    """The partition-column advisor — for each CANDIDATE
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


# ------------------------------------------------------- key-skew diagnosis

def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis — the pre-flight a 100 TB pipeline
    runs before keying a shuffle on a column. One pass builds the
    per-key histogram; a second (tiny, key-cardinality) aggregate
    derives the skew verdict in exact integers: hottest key's share in
    basis points and how many keys exceed 2× the mean (cross-
    multiplied — ``cnt * n_keys > 2 * total`` — so no division ever
    runs). Reading the output: top1_share_bp >> 10000/n_keys means a
    degenerate hot key → route the join through salted_inner_join
    (operators/skew.py) or let AQE split it."""
    ev = load_table(spark, sf_dir, "events")
    # the only fact-sized pass; materialized because BOTH the totals
    # and the hot-key census read it (agg diamonds re-scan the fact
    # otherwise — the measured no-ReusedExchange finding, see q11)
    per_key = materialize(
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("cnt").alias("total")
    ).collect()[0]
    n_keys, total = int(tot["n_keys"]), int(tot["total"])
    return per_key.agg(
        F.lit(n_keys).cast("bigint").alias("n_keys"),
        F.lit(total).cast("bigint").alias("total_rows"),
        F.max("cnt").cast("bigint").alias("max_key_rows"),
        F.min("cnt").cast("bigint").alias("min_key_rows"),
        F.expr(f"max(cnt) * 10000 div {total}").cast("bigint").alias("top1_share_bp"),
        # keys heavier than 2x the mean, division-free:
        # cnt * n_keys > 2 * total
        F.sum(
            F.when(F.col("cnt") * F.lit(n_keys) > F.lit(2 * total), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_hot_keys"),
    )


register(
    "diag_key_skew",
    diag_key_skew,
    """
WITH per_key AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
tot AS (SELECT COUNT(*) AS n_keys, SUM(cnt) AS total FROM per_key)
SELECT CAST(n_keys AS BIGINT) AS n_keys,
  CAST(total AS BIGINT) AS total_rows,
  CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
  CAST(MIN(cnt) AS BIGINT) AS min_key_rows,
  CAST(MAX(cnt) * 10000 // total AS BIGINT) AS top1_share_bp,
  CAST(SUM(CASE WHEN cnt * n_keys > 2 * total THEN 1 ELSE 0 END) AS BIGINT)
    AS n_hot_keys
FROM per_key CROSS JOIN tot
GROUP BY n_keys, total
""",
)


def diag_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FK audit a warehouse runs after every load —
    one row per relationship with child row/key counts and ORPHANED
    child keys. Fully distributed and SINGLE-JOB: every (child key,
    relationship) pair left-joins its parent's distinct key set tagged
    with a presence marker, the six relationships union into one tall
    frame, and one groupBy derives rows / distinct keys / distinct
    orphan keys per relationship — no driver collects, no per-check
    jobs. A healthy star schema audits to zero orphans, so the driver
    row doubles as a testdata invariant."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    su = load_table(spark, sf_dir, "supplier")
    pa = load_table(spark, sf_dir, "part")
    na = load_table(spark, sf_dir, "nation")

    def tagged(name, child, ckey, parent, pkey):
        pk = (
            parent.select(F.col(pkey).cast("long").alias("k"))
            .distinct()
            .withColumn("_present", F.lit(1))
        )
        return child.select(
            F.lit(name).alias("relationship"), F.col(ckey).cast("long").alias("k")
        ).join(pk, "k", "left")

    tall = (
        tagged("lineitem.l_orderkey->orders", li, "l_orderkey", od, "o_orderkey")
        .unionByName(tagged("lineitem.l_partkey->part", li, "l_partkey", pa, "p_partkey"))
        .unionByName(
            tagged("lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey")
        )
        .unionByName(tagged("orders.o_custkey->customer", od, "o_custkey", cu, "c_custkey"))
        .unionByName(
            tagged("customer.c_nationkey->nation", cu, "c_nationkey", na, "n_nationkey")
        )
        .unionByName(
            tagged("supplier.s_nationkey->nation", su, "s_nationkey", na, "n_nationkey")
        )
    )
    return (
        tall.groupBy("relationship")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_child_rows"),
            F.countDistinct("k").cast("bigint").alias("n_child_keys"),
            F.countDistinct(F.when(F.col("_present").isNull(), F.col("k")))
            .cast("bigint")
            .alias("n_orphan_keys"),
        )
        .orderBy("relationship")
    )


register(
    "diag_referential_integrity",
    diag_referential_integrity,
    """
WITH checks AS (
  SELECT 'lineitem.l_orderkey->orders' AS relationship,
    (SELECT COUNT(*) FROM lineitem) AS n_child_rows,
    (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS n_child_keys,
    (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem
      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))) AS n_orphan_keys
  UNION ALL SELECT 'lineitem.l_partkey->part',
    (SELECT COUNT(*) FROM lineitem),
    (SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
    (SELECT COUNT(*) FROM (SELECT DISTINCT l_partkey FROM lineitem
      WHERE l_partkey NOT IN (SELECT p_partkey FROM part)))
  UNION ALL SELECT 'lineitem.l_suppkey->supplier',
    (SELECT COUNT(*) FROM lineitem),
    (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem),
    (SELECT COUNT(*) FROM (SELECT DISTINCT l_suppkey FROM lineitem
      WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)))
  UNION ALL SELECT 'orders.o_custkey->customer',
    (SELECT COUNT(*) FROM orders),
    (SELECT COUNT(DISTINCT o_custkey) FROM orders),
    (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)))
  UNION ALL SELECT 'customer.c_nationkey->nation',
    (SELECT COUNT(*) FROM customer),
    (SELECT COUNT(DISTINCT c_nationkey) FROM customer),
    (SELECT COUNT(*) FROM (SELECT DISTINCT c_nationkey FROM customer
      WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)))
  UNION ALL SELECT 'supplier.s_nationkey->nation',
    (SELECT COUNT(*) FROM supplier),
    (SELECT COUNT(DISTINCT s_nationkey) FROM supplier),
    (SELECT COUNT(*) FROM (SELECT DISTINCT s_nationkey FROM supplier
      WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation)))
)
SELECT relationship, CAST(n_child_rows AS BIGINT) AS n_child_rows,
  CAST(n_child_keys AS BIGINT) AS n_child_keys,
  CAST(n_orphan_keys AS BIGINT) AS n_orphan_keys
FROM checks
ORDER BY relationship
""",
)


def diag_data_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level data-contract validation — the
    companion to the FK audit: each rule (enum domain, positivity,
    date range, null-ness) counted over ONE fact scan as conditional
    sums, published as (rule, n_checked, n_violations). Adding a rule
    is adding a column expression — no extra pass ever. A violation
    row here is the thing a pipeline gate would abort on; the catalog
    form makes the census itself verifiable."""
    od = load_table(spark, sf_dir, "orders")
    rules = {
        "o_orderstatus in (F,O,P)": ~F.col("o_orderstatus").isin("F", "O", "P"),
        "o_totalprice > 0": ~(F.col("o_totalprice") > 0),
        "o_orderdate in 1995..2003": ~F.col("o_orderdate")
        .cast("date")
        .between(F.lit("1995-01-01"), F.lit("2003-12-31")),
        "o_custkey not null": F.col("o_custkey").isNull(),
        "o_orderpriority not null": F.col("o_orderpriority").isNull(),
    }
    wide = od.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.when(cond, 1).otherwise(0)).alias(f"_v{i}")
            for i, cond in enumerate(rules.values())
        ],
    )
    # unpivot the 1-row wide result driver-side (bounded; same pattern
    # as profile_orders)
    row = wide.collect()[0]
    out = [
        (name, int(row["_n"]), int(row[f"_v{i}"]))
        for i, name in enumerate(rules.keys())
    ]
    return spark.createDataFrame(
        out, "rule string, n_checked bigint, n_violations bigint"
    ).orderBy("rule")


register(
    "diag_data_contract",
    diag_data_contract,
    """
WITH agg AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END)
         AS BIGINT) AS v0,
    CAST(SUM(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END)
         AS BIGINT) AS v1,
    CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) NOT BETWEEN DATE '1995-01-01'
             AND DATE '2003-12-31' THEN 1 ELSE 0 END) AS BIGINT) AS v2,
    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v3,
    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v4
  FROM orders
)
SELECT * FROM (
  SELECT 'o_orderstatus in (F,O,P)' AS rule, n AS n_checked, v0 AS n_violations FROM agg
  UNION ALL SELECT 'o_totalprice > 0', n, v1 FROM agg
  UNION ALL SELECT 'o_orderdate in 1995..2003', n, v2 FROM agg
  UNION ALL SELECT 'o_custkey not null', n, v3 FROM agg
  UNION ALL SELECT 'o_orderpriority not null', n, v4 FROM agg
)
ORDER BY rule
""",
)


_JS_D, _JS_W = 4, 512


def diag_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join-size estimation — the planner pre-flight
    that predicts |A ⋈ B| BEFORE paying the shuffle. Classic
    AMS/count-min algebra: build a d×w counter sketch of each side's
    join key, estimate = min over rows of Σ_buckets cmsA·cmsB (the
    dot product upper-bounds the true size, tightest row wins;
    overestimate only, like the point estimate). Both sketches are
    bounded aggregates; the 'join' that produces the estimate touches
    2·d·w counters, never a data row. The exact size rides along
    (Σ per-key cntA·cntB) with the honesty boolean, and — because the
    buckets are the repo's md5 hashes — the DuckDB oracle replays the
    ESTIMATE itself digit-for-digit, not just the bound."""
    from xero_api_etl_utilities_spark.operators.sketches import cms_build

    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    # Both the CMS build (posexplode ×d md5 buckets per row) and the
    # exact per-key counts ran on the single-task scans.  One key-keyed
    # exchange per side at compute width feeds BOTH branches — the
    # per-key groupBy reuses the hash partitioning (no second exchange)
    # and the sketch explode runs wide; every output is an integer
    # count, partitioning-independent.
    od = compute_width(od, "k")
    li = compute_width(li, "k")
    sa = cms_build(od, "k", d=_JS_D, w=_JS_W)
    sb = cms_build(li, "k", d=_JS_D, w=_JS_W)
    est = (
        sa.join(
            sb.withColumnRenamed("cms_count", "cnt_b"),
            ["cms_row", "cms_bucket"],
        )
        .groupBy("cms_row")
        .agg(F.sum(F.col("cms_count") * F.col("cnt_b")).alias("dot"))
        .agg(F.min("dot").cast("bigint").alias("est_join_size"))
    )
    ka = od.groupBy("k").agg(F.count(F.lit(1)).alias("ca"))
    kb = li.groupBy("k").agg(F.count(F.lit(1)).alias("cb"))
    exact = (
        ka.join(kb, "k")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("exact_join_size"))
    )
    # One tall union of the two 1-row aggregates instead of two
    # sequential .collect() jobs + a driver-literal frame (no driver
    # round-trips on a query path; the two subtrees are independent
    # stages of ONE job, so they execute concurrently instead of
    # back-to-back).  Still no 1-row cross join (the NLJ
    # the audit bans) — the combine is a union + conditional max.
    tall = est.select(
        F.lit("e").alias("k"), F.col("est_join_size").alias("v")
    ).unionAll(
        exact.select(F.lit("x").alias("k"), F.col("exact_join_size").alias("v"))
    )
    return (
        tall.agg(
            F.max(F.when(F.col("k") == "x", F.col("v"))).alias("exact_join_size"),
            F.max(F.when(F.col("k") == "e", F.col("v"))).alias("est_join_size"),
        )
        .select(
            "exact_join_size",
            "est_join_size",
            (F.col("est_join_size") >= F.col("exact_join_size")).alias(
                "never_under"
            ),
            (F.col("est_join_size") * 100 <= 130 * F.col("exact_join_size")).alias(
                "within_30pct"
            ),
        )
    )


def _join_size_oracle() -> str:
    hashed = h32_sql("i || ':' || CAST(k AS VARCHAR)")
    bucket = f"CAST({hashed} AS BIGINT) % {_JS_W}"
    rows = ", ".join(str(i) for i in range(_JS_D))
    return f"""
WITH ka AS (SELECT o_orderkey AS k FROM orders),
kb AS (SELECT l_orderkey AS k FROM lineitem),
sa AS (
  SELECT i, {bucket} AS b, COUNT(*) AS c
  FROM ka CROSS JOIN (SELECT UNNEST([{rows}]) AS i) GROUP BY 1, 2
),
sb AS (
  SELECT i, {bucket} AS b, COUNT(*) AS c
  FROM kb CROSS JOIN (SELECT UNNEST([{rows}]) AS i) GROUP BY 1, 2
),
est AS (
  SELECT MIN(dot) AS e FROM (
    SELECT sa.i, SUM(sa.c * sb.c) AS dot
    FROM sa JOIN sb ON sa.i = sb.i AND sa.b = sb.b
    GROUP BY sa.i)
),
exact AS (
  SELECT SUM(ca * cb) AS x FROM
    (SELECT k, COUNT(*) AS ca FROM ka GROUP BY k) a
    JOIN (SELECT k, COUNT(*) AS cb FROM kb GROUP BY k) b USING (k)
)
SELECT CAST(x AS BIGINT) AS exact_join_size, CAST(e AS BIGINT) AS est_join_size,
  e >= x AS never_under, e * 100 <= 130 * x AS within_30pct
FROM est CROSS JOIN exact
"""


register("diag_join_size_estimate", diag_join_size_estimate, _join_size_oracle)


# ---------------------------------------------------------------------------
# consistent-hash resharding diagnosis
# ---------------------------------------------------------------------------

_N_OLD, _N_NEW, _VNODES = 32, 33, 4


def _ring(n_shards: int) -> list[int]:
    """Sorted consistent-hash ring, each entry pos·64 + shard_id.

    Positions are h32 of a fixed vnode label, so the ring is a pure
    constant (132 longs for n=33) — small enough to live in the plan
    as an array literal on BOTH engines, unlike the IVF-PQ distance
    tables whose size forced them into broadcast rows (PLANS.md,
    "constants in rows, not plans" — the cliff is ~10⁴ literals,
    two orders of magnitude above this)."""
    entries = [
        py_h32(f"vn:{s}:{r}") * 64 + s
        for s in range(n_shards)
        for r in range(_VNODES)
    ]
    return sorted(entries)


def layout_shard_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resharding cost, mod-N vs consistent hashing, 32 → 33
    shards over the customer key space.  For each key (position
    kp = h32('key:'||custkey)) the assigned shard is the successor
    vnode on the ring (smallest position ≥ kp, wrapping to the ring
    minimum); growing the ring only inserts the new shard's vnodes, so
    only keys whose successor is now one of those vnodes move —
    E[moved] = 1/(N+1) ≈ 300 bp — while mod-N reassignment moves
    E[moved] = N/(N+1) ≈ 9700 bp.  The query MEASURES both on real
    keys and publishes exact integer counts + bp fractions: the
    one-row verdict a storage team reads before picking a strategy.

    Successor lookup is branch-free array algebra over the encoded
    ring: min(e ≥ kp·64) else min(e), shard = e mod 64 — no UDF, no
    join; the ring rides in the plan as a literal.  One scan, one
    1-row aggregate; nothing here changes at 100 TB."""
    cust = load_table(spark, sf_dir, "customer")
    # kp MUST be materialized as a real column before it is used
    # inside the filter lambdas below: a lambda body is invisible to
    # Catalyst's subexpression elimination (the token_ngrams lesson),
    # so inlining the md5 expression here re-hashed every key once
    # PER RING ELEMENT — 264 md5/row, measured 3.4 s for this 15k-row
    # scan vs 0.6 s with the two-stage select (6×; the residue is
    # fixed session/scheduling cost, not per-row work).
    keyed = cust.select(
        h32(F.concat(F.lit("key:"), F.col("c_custkey").cast("string"))).alias(
            "kp"
        )
    )
    kp = F.col("kp")

    def ring_shard(ring: list[int], kp_col):
        from xero_api_etl_utilities_spark.operators.litfold import lit_longs

        arr = lit_longs(ring)  # one array Literal, a true plan constant
        succ = F.coalesce(
            F.array_min(F.filter(arr, lambda e: e >= kp_col * 64)),
            F.array_min(arr),
        )
        return succ % 64

    assigned = keyed.select(
        (kp % _N_OLD != kp % _N_NEW).cast("int").alias("mod_moved"),
        (
            ring_shard(_ring(_N_OLD), kp) != ring_shard(_ring(_N_NEW), kp)
        ).cast("int").alias("ring_moved"),
    )
    # bp via INTEGER division on both engines: a double→long cast
    # truncates in Spark but rounds in DuckDB, so the float path would
    # hash-mismatch on any non-exact quotient.
    return assigned.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("mod_moved").alias("mod_moves"),
        F.sum("ring_moved").alias("ring_moves"),
    ).select(
        "n_keys",
        "mod_moves",
        "ring_moves",
        F.expr("10000 * mod_moves div n_keys").alias("mod_moves_bp"),
        F.expr("10000 * ring_moves div n_keys").alias("ring_moves_bp"),
    )


def _shard_moves_oracle() -> str:
    ring_old = _ring(_N_OLD)
    ring_new = _ring(_N_NEW)

    def lst(ring: list[int]) -> str:
        return "[" + ", ".join(str(e) for e in ring) + "]"

    kp = h32_sql("'key:' || CAST(c_custkey AS VARCHAR)")
    return f"""
WITH keyed AS (
  SELECT {kp} AS kp FROM customer
),
assigned AS (
  SELECT
    CASE WHEN kp % {_N_OLD} <> kp % {_N_NEW} THEN 1 ELSE 0 END AS mod_moved,
    CASE WHEN
      COALESCE(list_min(list_filter({lst(ring_old)}, e -> e >= kp * 64)),
               list_min({lst(ring_old)})) % 64
      <>
      COALESCE(list_min(list_filter({lst(ring_new)}, e -> e >= kp * 64)),
               list_min({lst(ring_new)})) % 64
    THEN 1 ELSE 0 END AS ring_moved
  FROM keyed
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
  CAST(SUM(mod_moved) AS BIGINT) AS mod_moves,
  CAST(SUM(ring_moved) AS BIGINT) AS ring_moves,
  (10000 * CAST(SUM(mod_moved) AS BIGINT)) // COUNT(*) AS mod_moves_bp,
  (10000 * CAST(SUM(ring_moved) AS BIGINT)) // COUNT(*) AS ring_moves_bp
FROM assigned
"""


register("layout_shard_moves", layout_shard_moves, _shard_moves_oracle)


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking (Hernández–Stolfo merge/purge)
# ---------------------------------------------------------------------------

_SNM_WINDOW, _SNM_MAXDIST = 5, 4


def fuzzy_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity blocking over part names — the
    classic merge/purge alternative to the SymSpell deletion-
    neighborhood join (fuzzy_name_match): sort the distinct names,
    compare each name only with its next ``w`` neighbors in sort
    order, verify with exact edit distance ≤ 4.  Unlike deletion
    neighborhoods (which explode combinatorially past distance ~2),
    SNM's cost is w·n at ANY distance threshold; the price is recall —
    measured on this corpus: 88 of the 244 quadratic-truth pairs at
    d ≤ 4 (36%; the window is the recall knob, pinned in
    tests/test_mining_ops.py).  The oracle replays the same algorithm,
    so the driver row proves the rank/window/verify chain exactly.

    Scale shape: names are deduped first (identical names otherwise
    fill the window and evict true near-misses — the documented SNM
    failure mode), and the global name rank is the band-decomposed
    rank (band = the first two name characters, sub = the next
    two — string prefixes coarsen the lexicographic order exactly —
    so the sort parallelizes at ANY name cardinality; the old global
    row_number window serialized the distinct-name frame, which
    scales with the corpus).  The ±w neighborhood probe is the same
    rank equi-join."""
    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_rank_decomposed2,
    )

    pt = load_table(spark, sf_dir, "part")
    names = (
        pt.select("p_name")
        .distinct()
        .withColumn("_band", F.substring(F.col("p_name"), 1, 2))
        .withColumn("_sub", F.substring(F.col("p_name"), 3, 2))
    )
    ranked = global_rank_decomposed2(
        names, "_band", "_sub", [F.asc("p_name")], rank_name="rn"
    ).drop("_band", "_sub")
    probes = ranked.select(
        F.col("p_name").alias("name_a"),
        F.explode(
            F.array(*[F.lit(d) for d in range(1, _SNM_WINDOW + 1)])
        ).alias("_d"),
        (F.col("rn") + F.col("_d")).alias("rn_b"),
    )
    pairs = probes.join(
        ranked.select(F.col("p_name").alias("name_b"), F.col("rn").alias("rn_b")),
        "rn_b",
    )
    return (
        pairs.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist").between(1, _SNM_MAXDIST))
        .select("name_a", "name_b", F.col("dist").cast("int").alias("dist"))
        .orderBy("name_a", "name_b")
    )


register(
    "fuzzy_sorted_neighborhood",
    fuzzy_sorted_neighborhood,
    f"""
WITH names AS (SELECT DISTINCT p_name FROM part),
ranked AS (
  SELECT p_name, ROW_NUMBER() OVER (ORDER BY p_name) AS rn FROM names
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
FROM ranked a
JOIN ranked b ON b.rn > a.rn AND b.rn <= a.rn + {_SNM_WINDOW}
WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND {_SNM_MAXDIST}
ORDER BY name_a, name_b
""",
)


# ---------------------------------------------------------------------------
# zone-map prune-rate diagnosis (layout what-if)
# ---------------------------------------------------------------------------

_ZM_INGEST_CHUNK = 512       # orders per arrival-order "file"
_ZM_PRED_LO, _ZM_PRED_HI = "1998-01-01", "1998-04-01"


def layout_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a min/max zone map (parquet row-group stats) would
    prune for a ship-date range predicate under two physical layouts —
    arrival order (files = l_orderkey ranges: every file spans years,
    nothing prunes) vs date-clustered (files = ship-weeks: everything
    outside the predicate's ~13 weeks prunes).  The companion to
    layout_zorder_stats: that query measures locality of an encoding,
    this one measures the SCAN-COST consequence of a layout, which is
    the number a table owner acts on.

    Deliberately window-free: chunks are ANALYTIC (orderkey div 512,
    epoch-week of shipdate) rather than row_number-assigned, so each
    layout is one groupBy min/max/count over the fact — no global
    sort anywhere (simulating the sorted layout via actual sorting
    would be an unpartitioned fact window, the one shape this repo
    bans).  Outputs integer chunk/row counts + scan_bp per layout."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    lo, hi = F.lit(_ZM_PRED_LO).cast("date"), F.lit(_ZM_PRED_HI).cast("date")

    def layout(chunk_col, name: str) -> DataFrame:
        zones = li.groupBy(chunk_col.alias("chunk")).agg(
            F.min("sd").alias("mn"),
            F.max("sd").alias("mx"),
            F.count(F.lit(1)).alias("c"),
        )
        scanned = (F.col("mx") >= lo) & (F.col("mn") < hi)
        return zones.agg(
            F.lit(name).alias("layout"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(scanned.cast("long")).alias("chunks_scanned"),
            F.sum(F.when(scanned, F.col("c")).otherwise(0)).alias("rows_scanned"),
            F.sum("c").alias("rows_total"),
        ).select(
            "*",
            F.expr("10000 * rows_scanned div rows_total").alias("scan_bp"),
        )

    ingest = layout(
        F.expr(f"l_orderkey div {_ZM_INGEST_CHUNK}"), "arrival_order"
    )
    dated = layout(
        F.expr("datediff(sd, date '1970-01-01') div 7"), "date_clustered"
    )
    return ingest.unionAll(dated).orderBy("layout")


register(
    "layout_zonemap_prune",
    layout_zonemap_prune,
    f"""
WITH li AS (
  SELECT l_orderkey, CAST(l_shipdate AS DATE) AS sd FROM lineitem
),
zin AS (
  SELECT l_orderkey // {_ZM_INGEST_CHUNK} AS chunk,
         MIN(sd) mn, MAX(sd) mx, CAST(COUNT(*) AS BIGINT) c
  FROM li GROUP BY 1
),
zdt AS (
  SELECT (sd - DATE '1970-01-01') // 7 AS chunk,
         MIN(sd) mn, MAX(sd) mx, CAST(COUNT(*) AS BIGINT) c
  FROM li GROUP BY 1
),
summ AS (
  SELECT 'arrival_order' AS layout,
    CAST(COUNT(*) AS BIGINT) AS n_chunks,
    CAST(SUM(CASE WHEN mx >= DATE '{_ZM_PRED_LO}' AND mn < DATE '{_ZM_PRED_HI}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS chunks_scanned,
    SUM(CASE WHEN mx >= DATE '{_ZM_PRED_LO}' AND mn < DATE '{_ZM_PRED_HI}'
             THEN c ELSE 0 END) AS rows_scanned,
    SUM(c) AS rows_total
  FROM zin
  UNION ALL
  SELECT 'date_clustered',
    CAST(COUNT(*) AS BIGINT),
    CAST(SUM(CASE WHEN mx >= DATE '{_ZM_PRED_LO}' AND mn < DATE '{_ZM_PRED_HI}'
                  THEN 1 ELSE 0 END) AS BIGINT),
    SUM(CASE WHEN mx >= DATE '{_ZM_PRED_LO}' AND mn < DATE '{_ZM_PRED_HI}'
             THEN c ELSE 0 END),
    SUM(c)
  FROM zdt
)
SELECT layout, n_chunks, chunks_scanned,
  CAST(rows_scanned AS BIGINT) AS rows_scanned,
  CAST(rows_total AS BIGINT) AS rows_total,
  CAST((10000 * rows_scanned) // rows_total AS BIGINT) AS scan_bp
FROM summ ORDER BY layout
""",
)


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

# log10(1 + 1/d) in basis points — the standard Benford table as fixed
# integer constants, so no float log crosses an engine
_BENFORD_BP = {1: 3010, 2: 1761, 3: 1249, 4: 969, 5: 792, 6: 669, 7: 580, 8: 512, 9: 458}


def diag_benford_firstdigit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order amounts (in
    cents) — the forensic-accounting classic: naturally occurring
    multi-magnitude amounts follow P(d) = log10(1 + 1/d); a fabricated
    or truncated column doesn't.  One row per leading digit with the
    observed share and the deviation from the Benford expectation in
    bp.  (TPC-H totals are uniform-ish, so this corpus SHOWS a big
    deviation — the diagnostic firing correctly on synthetic data is
    the point; the oracle pins the arithmetic either way.)

    Integer exactness: the expected shares are the standard table as
    fixed bp CONSTANTS (no log10 at query time); first digit via
    substring of the cents cast to string.  Shape: one scan
    projection, one 9-row aggregate, a broadcast join against the
    9-row constant frame."""
    od = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digits = (
        od.select(cents.alias("_c"))
        .filter(F.col("_c") > 0)
        .select(F.substring(F.col("_c").cast("string"), 1, 1).cast("int").alias("digit"))
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    # the grand total via an unpartitioned window over the <= 9-row
    # census frame (the pareto/RFM dimension-sized precedent) — a
    # separate agg branch would re-scan the parquet (Spark has no
    # cross-branch common-subexpression reuse)
    from pyspark.sql import Window

    expected = F.create_map(
        *[F.lit(x) for kv in _BENFORD_BP.items() for x in kv]
    )
    return (
        counts.withColumn(
            "_t", F.sum("n_orders").over(Window.partitionBy()).cast("bigint")
        )
        .select(
            "digit",
            "n_orders",
            F.expr("n_orders * 10000 div _t").alias("share_bp"),
            F.element_at(expected, F.col("digit")).cast("bigint").alias(
                "expected_bp"
            ),
        )
        .withColumn("dev_bp", F.abs(F.col("share_bp") - F.col("expected_bp")))
        .orderBy("digit")
    )


def _benford_oracle() -> str:
    exp_rows = " UNION ALL ".join(
        f"SELECT {d} AS digit, {bp} AS expected_bp"
        for d, bp in _BENFORD_BP.items()
    )
    return f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
), counts AS (
  SELECT digit, count(*)::BIGINT AS n_orders FROM digits GROUP BY digit
), expected AS ({exp_rows})
SELECT c.digit, c.n_orders,
  (c.n_orders * 10000 // (SELECT sum(n_orders) FROM counts))::BIGINT AS share_bp,
  CAST(e.expected_bp AS BIGINT) AS expected_bp,
  abs(c.n_orders * 10000 // (SELECT sum(n_orders) FROM counts)
      - e.expected_bp)::BIGINT AS dev_bp
FROM counts c JOIN expected e ON c.digit = e.digit
ORDER BY c.digit
"""


register("diag_benford_firstdigit", diag_benford_firstdigit, _benford_oracle)


# ---------------------------------------------------------------------------
# distribution drift as exact total-variation distance
# ---------------------------------------------------------------------------


def diag_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift between the weekday and weekend event-type mixes as
    TOTAL-VARIATION distance, exact in basis points.

    PSI and KL need ln(); TVD = max_A |P(A) - Q(A)| = (1/2) sum_t
    |p_t - q_t| is the ln-free drift metric, and with p_t = c_t/n,
    q_t = d_t/m it cross-multiplies:  tvd_bp = floor(5000 *
    sum|c_t*m - d_t*n| / (n*m)).  Products are carried as
    decimal(38,0) (Spark) / HUGEINT (DuckDB) so the algebra survives
    100-TB counts (c*m ~ 1e26 overflows bigint; it does NOT overflow
    38 digits until ~1e19-row snapshots).

    Weekday-ness comes from epoch-day arithmetic, NOT the engine's
    dayofweek() (Spark counts Sunday=1, DuckDB Sunday=0 — a silent
    oracle trap): 1970-01-01 was a Thursday, so epoch_day % 7 is 2 on
    Saturday and 3 on Sunday in BOTH engines.

    Shape: one map-side-combinable type x is_weekend aggregate (10
    cells), then 5-row algebra.  Output: one row per type with the
    exact drift numerator, plus a '__total__' row carrying tvd_bp."""
    ev = load_table(spark, sf_dir, "events")
    epoch_day = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
    cells = ev.groupBy(
        "event_type", (epoch_day % 7).isin(2, 3).alias("weekend")
    ).agg(F.count(F.lit(1)).alias("c"))
    wide = cells.groupBy("event_type").agg(
        F.sum(F.when(~F.col("weekend"), F.col("c")).otherwise(0)).alias("wd"),
        F.sum(F.when(F.col("weekend"), F.col("c")).otherwise(0)).alias("we"),
    )
    tot = wide.agg(
        F.sum("wd").cast("decimal(38,0)").alias("n"),
        F.sum("we").cast("decimal(38,0)").alias("m"),
    )
    j = wide.crossJoin(F.broadcast(tot))
    num = F.abs(
        F.col("wd").cast("decimal(38,0)") * F.col("m")
        - F.col("we").cast("decimal(38,0)") * F.col("n")
    )
    per_type = j.select(
        "event_type",
        "wd",
        "we",
        num.cast("decimal(38,0)").alias("drift_num"),
    )
    total_row = (
        per_type.crossJoin(F.broadcast(tot))
        .agg(
            F.first(F.lit("__total__")).alias("event_type"),
            F.sum("wd").alias("wd"),
            F.sum("we").alias("we"),
            F.floor(
                F.sum("drift_num")
                * F.lit(5000)
                / (F.first("n") * F.first("m"))
            )
            .cast("decimal(38,0)")
            .alias("drift_num"),
        )
    )
    # drift_num carries >bigint products by design, so it is published
    # as VARCHAR on BOTH sides: a decimal(38,0)/HUGEINT column reaches
    # the driver's pandas hasher as Decimal vs float64 and can never
    # match; the string form is digit-exact at any sf.
    return (
        per_type.unionByName(total_row)
        .select(
            "event_type",
            F.col("wd").cast("bigint").alias("wd"),
            F.col("we").cast("bigint").alias("we"),
            F.col("drift_num").cast("string").alias("drift_num"),
        )
        .orderBy("event_type")
    )


_DRIFT_ORACLE = """
WITH wide AS (
  SELECT event_type,
         count(*) FILTER (
           (datediff('day', DATE '1970-01-01', ts::DATE) % 7) NOT IN (2, 3)
         )::HUGEINT AS wd,
         count(*) FILTER (
           (datediff('day', DATE '1970-01-01', ts::DATE) % 7) IN (2, 3)
         )::HUGEINT AS we
  FROM events GROUP BY 1
), tot AS (
  SELECT sum(wd)::HUGEINT AS n, sum(we)::HUGEINT AS m FROM wide
), per_type AS (
  SELECT event_type, wd, we,
         abs(wd * (SELECT m FROM tot) - we * (SELECT n FROM tot)) AS drift_num
  FROM wide
)
SELECT event_type, wd::BIGINT AS wd, we::BIGINT AS we,
       CAST(drift_num AS VARCHAR) AS drift_num
FROM per_type
UNION ALL
SELECT '__total__', sum(wd)::BIGINT, sum(we)::BIGINT,
       CAST((sum(drift_num) * 5000)
            // ((SELECT n FROM tot) * (SELECT m FROM tot)) AS VARCHAR)
FROM per_type
ORDER BY 1
"""

register("diag_distribution_drift", diag_distribution_drift, _DRIFT_ORACLE)


# ---------------------------------------------------------------------------
# exact two-sample Kolmogorov-Smirnov drift
# ---------------------------------------------------------------------------


def diag_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift for a CONTINUOUS feature — the
    complement to ``diag_distribution_drift``'s categorical TVD: the
    exact two-sample Kolmogorov-Smirnov statistic over document
    lengths, comparing the src0-src9 half of the corpus against
    src10-src19 (the "did the new crawl batch shift the length
    distribution" monitor).

    D = max_v |F1(v) - F2(v)| cross-multiplies to integers: with
    cum_i(v) = #{docs on side i with n_chars <= v},
    D = max |cum1(v)*n2 - cum2(v)*n1| / (n1*n2) — numerator,
    denominator, and the 10^4-scaled bp value are all published as
    exact integers, plus the arg-max length (smallest on ties, so the
    row is deterministic).

    Lowering: one (length, side) aggregate over the fact, then
    cumulative windows over the DISTINCT-LENGTH frame — bounded by
    feature cardinality, not corpus size (the equidepth/zonemap
    precedent); totals ride an unpartitioned window over that same
    tiny frame.  At 100 TB with a high-cardinality feature, bucket
    lengths first (the KS statistic of the bucketed CDF bounds the
    true D within max bucket mass) — same plan, one extra floor.

    Overflow: cum*n is <= n1*n2 ~ 2.5e9 at sf0.1 and ~2.5e21 at
    ~5e10 docs/side — the cross-product is carried as decimal(38,0)
    and only the bp ratio (<= 10^4) returns to bigint."""
    docs = load_table(spark, sf_dir, "documents")
    side = (
        F.regexp_extract(F.col("source"), "(\\d+)", 1).cast("int") < 10
    ).alias("side_a")
    counts = (
        docs.select(F.col("n_chars").alias("v"), side)
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("side_a"), 1).otherwise(0)).alias("c1"),
            F.sum(F.when(~F.col("side_a"), 1).otherwise(0)).alias("c2"),
        )
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    d38 = "decimal(38,0)"
    cum = (
        counts.withColumn("cum1", F.sum("c1").over(w_cum))
        .withColumn("cum2", F.sum("c2").over(w_cum))
        .withColumn("n1", F.sum("c1").over(w_all))
        .withColumn("n2", F.sum("c2").over(w_all))
        .withColumn(
            "gap",
            F.abs(
                F.col("cum1").cast(d38) * F.col("n2")
                - F.col("cum2").cast(d38) * F.col("n1")
            ),
        )
    )
    return (
        cum.orderBy(F.desc("gap"), F.asc("v"))
        .limit(1)
        .select(
            F.col("v").cast("bigint").alias("argmax_len"),
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            F.col("gap").cast("string").alias("ks_num"),
            (F.col("n1").cast(d38) * F.col("n2"))
            .cast(d38)
            .cast("string")
            .alias("ks_den"),
            F.expr(
                f"cast(gap as {d38}) * 10000"
                f" div (cast(n1 as {d38}) * cast(n2 as {d38}))"
            ).alias("ks_bp"),
        )
    )


_KS_DRIFT_ORACLE = """
WITH counts AS (
  SELECT n_chars AS v,
    CAST(SUM(CASE WHEN CAST(regexp_extract(source, '(\\d+)', 1) AS INT) < 10
                  THEN 1 ELSE 0 END) AS BIGINT) AS c1,
    CAST(SUM(CASE WHEN CAST(regexp_extract(source, '(\\d+)', 1) AS INT) >= 10
                  THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM documents GROUP BY n_chars
), cum AS (
  SELECT v,
    SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum1,
    SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum2,
    SUM(c1) OVER () AS n1,
    SUM(c2) OVER () AS n2
  FROM counts
), gapped AS (
  SELECT v, n1, n2,
    abs(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1) AS gap
  FROM cum
)
SELECT CAST(v AS BIGINT) AS argmax_len,
  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
  CAST(CAST(gap AS DECIMAL(38,0)) AS VARCHAR) AS ks_num,
  CAST(CAST(CAST(n1 AS HUGEINT) * n2 AS DECIMAL(38,0)) AS VARCHAR) AS ks_den,
  CAST((gap * 10000) // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS ks_bp
FROM gapped
ORDER BY gap DESC, v ASC
LIMIT 1
"""

register("diag_ks_drift", diag_ks_drift, _KS_DRIFT_ORACLE)


# ---------------------------------------------------------------------------
# per-source quality-decile census
# ---------------------------------------------------------------------------


def diag_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "which sources are low quality" curation heatmap —
    every document scored on an integer quality composite
    (stopword-density bp + alpha-density bp − punct-density bp, the
    same cross-multiplied signals the quality gate thresholds), cut
    into corpus-wide DECILES, and counted per (source, decile).  A
    source whose mass piles into deciles 1-2 is a removal candidate;
    a uniform row is healthy — the report every corpus card ships.

    NTILE over a tied score splits by row order, so the decile ranks
    over the (score, doc_id) total order — engine-exact, the RFM
    precedent.  Shape: one scan projection for the score, ONE
    dimension-sized ranking window (decile over the whole corpus — at
    100 TB swap to approx_percentile cut points and the window
    disappears; the census itself never changes), one (source,
    decile) aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    from xero_api_etl_utilities_spark.operators.textstats import (
        STOPWORDS_EN,
        char_class_counts,
        stopword_hits,
    )

    cc = char_class_counts(F.col("text"))
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
    parts = docs.select(
        "doc_id",
        "source",
        F.greatest(F.size(toks).cast("bigint"), F.lit(1).cast("bigint")).alias(
            "_ntok"
        ),
        F.greatest(cc["n_chars"], F.lit(1).cast("bigint")).alias("_nch"),
        stopword_hits(toks, STOPWORDS_EN).alias("_stops"),
        cc["n_alpha"].alias("_alpha"),
        cc["n_punct"].alias("_punct"),
    )
    # integer `div` throughout — the flagship rule: bare `/` in a
    # hashed column drifts vs the oracle's floor on ties
    scored = parts.select(
        "doc_id",
        "source",
        F.expr(
            "10000 * _stops div _ntok + 10000 * _alpha div _nch"
            " - 10000 * _punct div _nch"
        ).alias("q_score"),
    )
    decile = F.ntile(10).over(Window.orderBy(F.asc("q_score"), F.asc("doc_id")))
    return (
        scored.withColumn("decile", decile)
        .groupBy("source", "decile")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select("source", F.col("decile").cast("int").alias("decile"), "n_docs")
        .orderBy("source", "decile")
    )


def _quality_deciles_oracle() -> str:
    from xero_api_etl_utilities_spark.operators.textstats import STOPWORDS_EN

    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
WITH scored AS (
  SELECT doc_id, source,
    CAST(10000 * len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
           t -> list_contains([{stoplist}], t)))
      // greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1)
      AS BIGINT)
    + CAST(10000 * (length(text)
           - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
      // greatest(length(text), 1) AS BIGINT)
    - CAST(10000 * (length(text)
           - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')))
      // greatest(length(text), 1) AS BIGINT) AS q_score
  FROM documents
), cut AS (
  SELECT source,
    NTILE(10) OVER (ORDER BY q_score ASC, doc_id ASC) AS decile
  FROM scored
)
SELECT source, CAST(decile AS INT) AS decile,
  CAST(COUNT(*) AS BIGINT) AS n_docs
FROM cut GROUP BY 1, 2 ORDER BY source, decile
"""


register("diag_quality_deciles", diag_quality_deciles, _quality_deciles_oracle)


def diag_quality_deciles_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB lowering of ``diag_quality_deciles`` — the
    SAME census (hash-identical to the same oracle) with the global
    doc-grain NTILE window replaced by a distributed rank
    decomposition, the ``sample_epoch_shuffle`` pattern applied to the
    (q_score, doc_id) total order:

    * bucket = (q_score + 10000) >> 7 — score bands are RANGES of the
      sort key, so bucket order == global order (score range is the
      bounded [-10000, 20000] bp composite, ~235 buckets).
    * within-bucket rank by (q_score, doc_id): a PARTITIONED window,
      spread across all executors.
    * bucket offsets (rows in all lower buckets) via a broadcast
      inequality self-join on the ~235-row histogram — a prefix sum
      with NO single-partition exchange anywhere in the plan (the
      epoch-shuffle variant still had one tiny unpartitioned offset
      window; here even that is gone).
    * NTILE(10) applied in CLOSED FORM to the reconstructed global
      rank r of n rows: the first n%10 buckets hold n//10+1 rows, so
      decile(r) = ceil(r/(base+1)) while r <= rem*(base+1), else
      rem + ceil((r-rem*(base+1))/base) — bit-for-bit the engine's
      NTILE tie-split over the same total order.

    Correct-by-construction at any scale: every window is score-band
    partitioned, every small frame (histogram, offsets, 1-row total)
    is broadcast.  At 100 TB only the band shift widens."""
    docs = load_table(spark, sf_dir, "documents")
    from xero_api_etl_utilities_spark.operators.textstats import (
        STOPWORDS_EN,
        char_class_counts,
        stopword_hits,
    )

    cc = char_class_counts(F.col("text"))
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
    parts = docs.select(
        "doc_id",
        "source",
        F.greatest(F.size(toks).cast("bigint"), F.lit(1).cast("bigint")).alias(
            "_ntok"
        ),
        F.greatest(cc["n_chars"], F.lit(1).cast("bigint")).alias("_nch"),
        stopword_hits(toks, STOPWORDS_EN).alias("_stops"),
        cc["n_alpha"].alias("_alpha"),
        cc["n_punct"].alias("_punct"),
    )
    scored = parts.select(
        "doc_id",
        "source",
        F.expr(
            "10000 * _stops div _ntok + 10000 * _alpha div _nch"
            " - 10000 * _punct div _nch"
        ).alias("q_score"),
    ).withColumn("bucket", F.shiftright(F.col("q_score") + F.lit(10000), 7))
    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_rank_decomposed,
        ntile_closed_form,
    )

    ranked = global_rank_decomposed(
        scored, "bucket", [F.asc("q_score"), F.asc("doc_id")]
    )
    total = scored.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    decile = ntile_closed_form(F.col("r"), F.col("n"), 10)
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn("decile", decile)
        .groupBy("source", "decile")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select("source", F.col("decile").cast("int").alias("decile"), "n_docs")
        .orderBy("source", "decile")
    )


register(
    "diag_quality_deciles_dist", diag_quality_deciles_dist, _quality_deciles_oracle
)
