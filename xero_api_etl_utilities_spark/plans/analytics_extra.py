"""Analytics extras: event funnel, term-frequency top-k, sketch
aggregate sanity — production analytics shapes over the events and
documents tables.

Oracle notes:
- the funnel's Spark plan is ONE groupBy + an ordered fold; the
  DuckDB twin is the equivalent 3-stage min-chain (view → first
  later click → first later purchase). Equivalence: the fold takes
  the first qualifying event in (ts, type) order, which is exactly
  the MIN-ts qualifying event; strict > comparisons make ties
  consistent in both formulations.
- approx_count_distinct (HLL++) is deterministic for fixed input
  (register maxima are order-insensitive), so the "within 5% of
  exact" boolean is engine-stable; the oracle asserts the exact
  count and TRUE — a drifting sketch fails the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators import events as ev
from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.sources.parquet import load_table


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered conversion funnel view → click → purchase:
    stage 3 = purchased after clicking after viewing, strict
    timestamp progression.

    Spark-first shape: ONE shuffle (groupBy user) + an ordered fold
    over each user's event array — not the three successive
    join-aggregate passes of the SQL formulation (the oracle runs
    that 3-pass form; both provably pick the same minimum qualifying
    timestamps). Per-user event counts are bounded (sessions), so the
    collected arrays are small; a pathological power-user would be
    capped upstream by the events-table sessionization."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    arr = F.array_sort(F.collect_list(F.struct("ts", "event_type")))

    def step(stage: int, etype: str, acc, e):
        cond = (acc["stage"] == stage) & (e["event_type"] == etype)
        if stage > 0:  # stage 0 has no prior timestamp to progress from
            cond = cond & (e["ts"] > acc["t"])
        return cond

    fold = F.aggregate(
        arr,
        F.struct(
            F.lit(0).alias("stage"), F.lit(None).cast("timestamp_ntz").alias("t")
        ),
        lambda acc, e: F.when(
            step(0, "view", acc, e),
            F.struct(F.lit(1).alias("stage"), e["ts"].alias("t")),
        )
        .when(
            step(1, "click", acc, e),
            F.struct(F.lit(2).alias("stage"), e["ts"].alias("t")),
        )
        .when(
            step(2, "purchase", acc, e),
            F.struct(F.lit(3).alias("stage"), e["ts"].alias("t")),
        )
        .otherwise(acc),
    )
    return (
        ev.groupBy("user_id")
        .agg(fold.alias("f"))
        .select("user_id", F.col("f.stage").cast("int").alias("stage"))
    )


register(
    "events_funnel",
    events_funnel,
    """
WITH u AS (
  SELECT DISTINCT user_id FROM events
), v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
  JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
  JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id
)
SELECT u.user_id,
  CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
            WHEN c.user_id IS NOT NULL THEN 2
            WHEN v.user_id IS NOT NULL THEN 1
            ELSE 0 END AS INT) AS stage
FROM u
LEFT JOIN v USING (user_id)
LEFT JOIN c USING (user_id)
LEFT JOIN p USING (user_id)
""",
)


def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by term frequency (ties → lexical) —
    the TF half of TF-IDF feature extraction. Explode → count →
    per-doc window top-k: one shuffle on (doc, term), one on doc."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("term"))
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", F.col("tf").cast("bigint").alias("tf"),
                F.col("rank").cast("int").alias("rank"))
    )


register(
    "text_top_terms",
    text_top_terms,
    """
WITH tf AS (
  SELECT doc_id, t.term AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM documents, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(term)
  GROUP BY doc_id, t.term
), ranked AS (
  SELECT doc_id, term, tf,
    row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rank
  FROM tf
)
SELECT doc_id, term, tf, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
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


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted in each subsequent activity week. Week indexes are integer
    day arithmetic anchored at 2024-01-01 — never date_trunc/F.window
    on TIMESTAMP_NTZ (those round-trip through the session timezone
    and shift rows near midnight; the anchored datediff is
    engine-exact). Two shuffles: first-week per user, then the
    (cohort, week) count."""
    ev = load_table(spark, sf_dir, "events")
    # floor, not cast-truncate: DuckDB's // floors, so a pre-anchor
    # timestamp (negative day delta) must floor here too
    week = F.floor(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) / 7
    ).cast("int")
    user_weeks = ev.select("user_id", week.alias("week")).distinct()
    cohorts = user_weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        user_weeks.join(cohorts, "user_id")
        .groupBy("cohort_week", "week")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


register(
    "events_cohort_retention",
    events_cohort_retention,
    """
WITH uw AS (
  SELECT DISTINCT user_id,
    CAST((CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS INT) AS week
  FROM events
), cohorts AS (
  SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id
)
SELECT c.cohort_week, uw.week, CAST(COUNT(DISTINCT uw.user_id) AS BIGINT) AS n_users
FROM uw JOIN cohorts c USING (user_id)
GROUP BY c.cohort_week, uw.week
""",
)


def text_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency per term plus the corpus size — the IDF half
    of TF-IDF (kept as exact integers; consumers compute idf floats
    downstream where no cross-engine hash needs to agree). Explode
    distinct terms per doc → one count per term; map-side combinable."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # one cheap scalar job, inlined as a literal
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
                )
            ).alias("term"),
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .select("term", F.col("df").cast("bigint").alias("df"),
                F.lit(n_docs).cast("bigint").alias("n_docs"))
    )


register(
    "text_doc_frequency",
    text_doc_frequency,
    """
WITH per_doc AS (
  SELECT DISTINCT doc_id, t.term AS term
  FROM documents, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(term)
)
SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
       CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
FROM per_doc GROUP BY term
""",
)


def text_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-typicality scoring — the data flow of perplexity-based
    quality filtering (CCNet/Gopher-style) with the LM lookup kept
    integer-exact: each document's tokens join the corpus unigram
    table (the "language model") and aggregate to n_tokens, the sum
    of global term counts (high = typical), and the rarest token's
    corpus count (low = contains rare/garbage tokens). Downstream
    float surprisal math is the consumer's business — no float
    crosses the oracle hash.

    The unigram join is deliberately NOT a forced broadcast: a
    web-scale heavy-tail vocabulary runs to 10⁸+ terms, past any
    broadcast budget — AQE broadcasts when the table is actually
    small (it is here) and falls back to a shuffle hash join on the
    term key when it is not."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("term"),
    )
    ctf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    return (
        toks.join(ctf, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("c").cast("bigint").alias("typicality"),
            F.min("c").cast("bigint").alias("rarest_ctf"),
        )
    )


register(
    "text_rarity",
    text_rarity,
    """
WITH toks AS (
  SELECT doc_id, t.term AS term
  FROM documents, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(term)
), ctf AS (
  SELECT term, COUNT(*) AS c FROM toks GROUP BY term
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(c) AS BIGINT) AS typicality,
  CAST(MIN(c) AS BIGINT) AS rarest_ctf
FROM toks JOIN ctf USING (term)
GROUP BY doc_id
""",
)


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over the semi-structured props column:
    ``from_json`` projects the JSON payload into typed columns inside
    the scan projection (JVM-side Jackson parse, codegen'd — no UDF),
    then a standard grouped aggregate. The oracle extracts with
    DuckDB's json_extract. At scale the parse cost is part of the
    scan — one pass, no extra shuffle beyond the aggregate."""
    from pyspark.sql.types import LongType, StructField, StructType

    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json("props", StructType([StructField("k", LongType())]))["k"].alias(
            "k"
        ),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count("k").cast("bigint").alias("n_with_k"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.min("k").cast("bigint").alias("min_k"),
        F.max("k").cast("bigint").alias("max_k"),
    )


register(
    "events_json_props",
    events_json_props,
    """
WITH parsed AS (
  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COUNT(k) AS BIGINT) AS n_with_k,
  CAST(SUM(k) AS BIGINT) AS sum_k,
  CAST(MIN(k) AS BIGINT) AS min_k,
  CAST(MAX(k) AS BIGINT) AS max_k
FROM parsed GROUP BY event_type
""",
)


def events_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every purchase is credited to the
    CHANNEL (first event_type) of its 30-min gap session — the classic
    marketing-attribution composite: gaps-and-islands sessionize, an
    ordered first_value per session, then a purchase-only rollup per
    channel. Both windows share the user_id partitioning, so the
    whole query is ONE exchange on user_id plus a final channel
    aggregation; no join — the attribution travels as a window column."""
    e = load_table(spark, sf_dir, "events")
    s = ev.sessionize(e)
    w = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    attributed = s.withColumn("channel", F.first("event_type").over(w))
    return (
        attributed.filter(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count_distinct("user_id").alias("n_buyers"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("attributed_value"),
        )
    )


register(
    "events_first_touch_attribution",
    events_first_touch_attribution,
    """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
), attributed AS (
  SELECT *, first_value(event_type) OVER (
      PARTITION BY user_id, session_seq ORDER BY ts, event_id
      ROWS UNBOUNDED PRECEDING) AS channel
  FROM sessions
)
SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_buyers,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS attributed_value
FROM attributed
WHERE event_type = 'purchase'
GROUP BY channel
""",
)


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path analysis: the most common event-type SEQUENCES per
    30-min session. Within-session order is made deterministic by
    sorting an array of (ts, event_id, type) structs — collect_list
    alone has NO ordering guarantee across partitions/retries, the
    classic correctness trap this query exists to demonstrate — then
    the path string aggregates like any other key. Top-20 by
    (count, path) total order."""
    e = load_table(spark, sf_dir, "events")
    s = ev.sessionize(e)
    paths = (
        s.groupBy("user_id", "session_seq")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )
    return paths


register(
    "events_top_paths",
    events_top_paths,
    """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
), paths AS (
  SELECT user_id, session_seq,
    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sessions GROUP BY user_id, session_seq
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC LIMIT 20
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
    from xero_api_etl_utilities_spark.plans.flagship import _money

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        _money(F.col("o_totalprice")).alias("o_totalprice"),
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
    """The documented 100 TB profiling path, itself verified (r4): the
    same single-pass profile with every per-column distinct count ALSO
    computed as an HLL++ sketch (rsd 2%) and a per-column approx_ok
    asserting the sketch lands within 5% of the exact count — the
    'checked' mode of operators/profile.py. In production the 'approx'
    mode drops the exact aggregates (and with them the 28-way
    n-distinct Expand) entirely; this query is the gate that keeps
    that swap honest."""
    from xero_api_etl_utilities_spark.operators.profile import profile_columns
    from xero_api_etl_utilities_spark.plans.flagship import _money

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        _money(F.col("o_totalprice")).alias("o_totalprice"),
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


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top-20 part PAIRS appearing in
    the same order. The pair join is a self equi-join ON THE ORDER KEY
    — quadratic only within one order (baskets are bounded, ~7 line
    items, so per-key fan-out is ≤ ~21 pairs regardless of table
    size; the global shape stays linear). Dedup to distinct
    (order, pair) first so a part appearing twice in an order cannot
    double-count support."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # r16 (guide §2.4/§2.5): an orderkey-keyed exchange at compute
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


def agg_value_variance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X53: population variance with NO floats anywhere — the sufficient
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
    """X54: KMV (k-minimum-values) distinct sketch, fully
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


def nested_invoice_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X58: analytics over NESTED documents via higher-order functions
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

    # r16 (guide §2.5): the document-assembly collect_list partial
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


def agg_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X61: audience-overlap estimation from KMV sketches — the
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


def events_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X65 (r5 seed): day-of-week seasonal index in exact basis
    points — the de-seasonalization factor a forecasting pipeline
    derives before trend-fitting: index_bp = weekday_events · 7 ·
    10000 div total (10000 bp = an average weekday). One groupBy;
    cross-multiplied integers only."""
    ev_ = load_table(spark, sf_dir, "events")
    from xero_api_etl_utilities_spark.operators.materialize import materialize

    per_dow = materialize(
        ev_.groupBy(F.dayofweek("ts").alias("dow")).agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    total = per_dow.agg(F.sum("n")).collect()[0][0]
    return per_dow.select(
        "dow",
        F.col("n").cast("bigint").alias("n_events"),
        F.expr(f"n * 7 * 10000 div {total}").cast("bigint").alias("index_bp"),
    ).orderBy("dow")


register(
    "events_weekday_seasonality",
    events_weekday_seasonality,
    """
WITH per AS (
  SELECT dayofweek(ts) + 1 AS dow, COUNT(*) AS n FROM events GROUP BY 1
)
SELECT dow, CAST(n AS BIGINT) AS n_events,
  CAST(n * 7 * 10000 // (SELECT SUM(n) FROM per) AS BIGINT) AS index_bp
FROM per
ORDER BY dow
""",
)


def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X66 (r5 seed): signup→purchase conversion lag — for each user's
    FIRST signup, the delay to their first subsequent purchase,
    summarized per signup week: conversions, min/max lag and the
    lower-median (type-1, index (n-1)//2 — the same exact integer
    order statistic as events_interarrival, immune to float
    interpolation). One user-keyed aggregate derives both firsts in a
    single pass; lags are integer minutes."""
    ev_ = load_table(spark, sf_dir, "events")
    firsts = (
        ev_.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
                "first_signup"
            ),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
                "first_purchase"
            ),
        )
        .filter(
            F.col("first_signup").isNotNull()
            & (F.col("first_purchase") > F.col("first_signup"))
        )
        .select(
            F.date_trunc("week", F.col("first_signup")).cast("date").alias("cohort_week"),
            F.expr("timestampdiff(MINUTE, first_signup, first_purchase)")
            .cast("bigint")
            .alias("lag_min"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("cohort_week").orderBy("lag_min")
    ranked = firsts.withColumn("rn", F.row_number().over(w))
    counts = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.min("lag_min").alias("min_lag_min"),
        F.max("lag_min").alias("max_lag_min"),
    )
    # integer div, not /: float (n-1)/2+1 is fractional for even n and
    # the equality silently drops those cohorts (caught by the sf0.001
    # sweep — sf0.01 happened to produce only odd cohorts)
    med = ranked.join(
        counts.select("cohort_week", "n_converted"), "cohort_week"
    ).filter(F.col("rn") == F.expr("(n_converted - 1) div 2 + 1")).select(
        "cohort_week", F.col("lag_min").alias("median_lag_min")
    )
    return (
        counts.join(med, "cohort_week")
        .select(
            "cohort_week", "n_converted", "min_lag_min", "median_lag_min", "max_lag_min"
        )
        .orderBy("cohort_week")
    )


register(
    "events_time_to_convert",
    events_time_to_convert,
    """
WITH firsts AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'signup' THEN ts END) AS fs,
    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
  FROM events GROUP BY user_id
),
lags AS (
  SELECT CAST(date_trunc('week', fs) AS DATE) AS cohort_week,
    CAST(epoch(fp) - epoch(fs) AS BIGINT) // 60 AS lag_min
  FROM firsts WHERE fs IS NOT NULL AND fp > fs
),
ranked AS (
  SELECT cohort_week, lag_min,
    ROW_NUMBER() OVER (PARTITION BY cohort_week ORDER BY lag_min) AS rn,
    COUNT(*) OVER (PARTITION BY cohort_week) AS n
  FROM lags
)
SELECT cohort_week, CAST(MAX(n) AS BIGINT) AS n_converted,
  CAST(MIN(lag_min) AS BIGINT) AS min_lag_min,
  CAST(MAX(CASE WHEN rn = (n - 1) // 2 + 1 THEN lag_min END) AS BIGINT)
    AS median_lag_min,
  CAST(MAX(lag_min) AS BIGINT) AS max_lag_min
FROM ranked
GROUP BY cohort_week
ORDER BY cohort_week
""",
)


def events_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X67 (r5 seed): positional (U-shaped 40/20/40) multi-touch
    attribution in exact basis points — first and last touch of each
    converting user's path get 4000 bp each, middles split the
    remaining 2000 bp by integer division with the REMAINDER assigned
    to the first middle touch (credit sums to exactly 10000 per user
    by construction — the property float attribution never has).
    Credit then rolls up per channel (event_type)."""
    ev_ = load_table(spark, sf_dir, "events")
    buyers = (
        ev_.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    touches = ev_.join(F.broadcast(buyers), "user_id").select(
        "user_id", "event_type", "ts", "event_id"
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    sized = touches.withColumn("pos", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(W.partitionBy("user_id"))
    )
    mid_each = F.expr("2000 div (n - 2)")
    mid_rem = F.expr("2000 % (n - 2)")
    credit = (
        F.when(F.col("n") == 1, F.lit(10000))
        .when((F.col("n") == 2) & (F.col("pos") == 1), F.lit(5000))
        .when((F.col("n") == 2) & (F.col("pos") == 2), F.lit(5000))
        .when(F.col("pos") == 1, F.lit(4000))
        .when(F.col("pos") == F.col("n"), F.lit(4000))
        .when(F.col("pos") == 2, mid_each + mid_rem)
        .otherwise(mid_each)
    )
    return (
        sized.select("event_type", credit.cast("bigint").alias("credit_bp"))
        .groupBy("event_type")
        .agg(F.sum("credit_bp").cast("bigint").alias("credit_bp"))
        .orderBy("event_type")
    )


register(
    "events_position_attribution",
    events_position_attribution,
    """
WITH buyers AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
),
sized AS (
  SELECT e.event_type,
    ROW_NUMBER() OVER (PARTITION BY e.user_id ORDER BY ts, event_id) AS pos,
    COUNT(*) OVER (PARTITION BY e.user_id) AS n
  FROM events e JOIN buyers USING (user_id)
)
SELECT event_type, CAST(SUM(
  CASE WHEN n = 1 THEN 10000
       WHEN n = 2 THEN 5000
       WHEN pos = 1 THEN 4000
       WHEN pos = n THEN 4000
       WHEN pos = 2 THEN 2000 // (n - 2) + 2000 % (n - 2)
       ELSE 2000 // (n - 2) END) AS BIGINT) AS credit_bp
FROM sized
GROUP BY event_type
ORDER BY event_type
""",
)


def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X68 (r5 seed): traffic burstiness per event type — the Fano
    factor (variance of hourly counts / mean hourly count) published
    as the cross-multiplied integer pair, same discipline as
    agg_value_variance_exact: fano_num = h·Σc² − (Σc)², fano_den =
    h·Σc over the per-(type,hour) count series. Fano ≈ 1 = Poisson
    arrivals; >> 1 = bursty. Two cheap aggregates (hour grain then
    type grain), nothing float."""
    ev_ = load_table(spark, sf_dir, "events")
    hourly = ev_.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("c"))
    return (
        hourly.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("h"),
            F.sum("c").alias("s"),
            F.sum(F.col("c") * F.col("c")).alias("ss"),
        )
        .select(
            "event_type",
            F.col("h").cast("bigint").alias("n_hours"),
            F.col("s").cast("bigint").alias("n_events"),
            (F.col("h") * F.col("ss") - F.col("s") * F.col("s"))
            .cast("bigint")
            .alias("fano_num"),
            (F.col("h") * F.col("s")).cast("bigint").alias("fano_den"),
        )
        .orderBy("event_type")
    )


register(
    "events_burstiness",
    events_burstiness,
    """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS c
  FROM events GROUP BY 1, 2
)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_hours,
  CAST(SUM(c) AS BIGINT) AS n_events,
  CAST(COUNT(*) * SUM(c * c) - SUM(c) * SUM(c) AS BIGINT) AS fano_num,
  CAST(COUNT(*) * SUM(c) AS BIGINT) AS fano_den
FROM hourly
GROUP BY event_type
ORDER BY event_type
""",
)


def agg_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X71 (r5 seed): the 80/20 audit — what share of total revenue
    the top decile of customers carries, in exact basis points.
    Per-customer revenue (one fact aggregate), rank by (revenue desc,
    custkey), top ceil(n/10) share cross-multiplied on integer cents.
    The decile boundary is a row-count rank, not a float quantile, so
    the oracle hashes.

    100 TB shape (r9): the rank was a global row_number window over
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


def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X72 (r5 seed): DAU/WAU stickiness per day in exact basis points
    — composes the X47 lowering twice: DAU from the deduped
    (day,user) frame directly, WAU via the same explode-not-range-join
    trailing-7 fan-out, then stickiness_bp = dau·10000 div wau. The
    product-metric everyone tracks, with a hash-exact oracle."""
    ev_ = load_table(spark, sf_dir, "events")
    du = ev_.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    dau = du.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    days = du.select(F.col("day").alias("d")).distinct()
    wau = (
        du.select(
            F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias(
                "d"
            ),
            "user_id",
        )
        .join(F.broadcast(days), "d", "left_semi")
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
        .withColumnRenamed("d", "day")
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            F.expr("dau * 10000 div wau").cast("bigint").alias("stickiness_bp"),
        )
        .orderBy("day")
    )


register(
    "events_stickiness",
    events_stickiness,
    """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day AS d FROM du),
dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY day),
wau AS (
  SELECT d AS day, COUNT(DISTINCT user_id) AS wau
  FROM du JOIN days ON datediff('day', du.day, d) BETWEEN 0 AND 6
  GROUP BY d
)
SELECT dau.day AS day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
  CAST(dau * 10000 // wau AS BIGINT) AS stickiness_bp
FROM dau JOIN wau ON dau.day = wau.day
ORDER BY dau.day
""",
)


def part_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X75 (r5 seed): the 2-D SKYLINE operator (Borzsony/Kossmann's
    classic, absent from every SQL dialect): parts no other part
    dominates — cheaper AND bigger. Lowering: sort by (price asc,
    size desc), a point is on the frontier iff its size strictly
    exceeds every EARLIER point's size = running max over the ordered
    window (ties on price resolved toward the larger size; equal
    (price,size) duplicates keep the lowest partkey via the
    three-key total order). Integer cents/sizes only.

    100 TB shape (r9): the running max was a global window over the
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


def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X76 (r5 seed): batch changepoint detection, a CUSUM over the
    daily totals: per event type, the day where the cumulative
    deviation from the overall mean peaks, i.e. argmax_t
    |n·S_t − t·S_n| over the daily-total series (the CUSUM statistic
    cross-multiplied so the mean never becomes a float: S_t = prefix
    sum of daily cents, n = #days, S_n = total). Ties break to the
    earliest day. One day-grain aggregate, one type-partitioned
    window, one argmax via max_by struct — every hashed value an
    integer."""
    ev_ = load_table(spark, sf_dir, "events")
    daily = ev_.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stats = daily.withColumn("t", F.count(F.lit(1)).over(w)).withColumn(
        "prefix", F.sum("cents").over(w)
    )
    tot = stats.groupBy("event_type").agg(
        F.max("t").alias("n"), F.sum("cents").alias("total")
    )
    scored = stats.join(tot, "event_type").withColumn(
        "dev", F.abs(F.col("n") * F.col("prefix") - F.col("t") * F.col("total"))
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.expr(
                "max_by(struct(day, dev), struct(dev, to_unix_timestamp(day) * -1))"
            ).alias("_w")
        )
        .select(
            "event_type",
            F.col("_w.day").alias("changepoint_day"),
            F.col("_w.dev").cast("bigint").alias("peak_deviation"),
        )
        .orderBy("event_type")
    )


register(
    "events_changepoint",
    events_changepoint,
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, day,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
    SUM(cents) OVER (PARTITION BY event_type ORDER BY day
                     ROWS UNBOUNDED PRECEDING) AS prefix
  FROM daily
),
tot AS (
  SELECT event_type, MAX(t) AS n,
    (SELECT SUM(cents) FROM daily d WHERE d.event_type = stats.event_type)
      AS total
  FROM stats GROUP BY event_type
),
scored AS (
  SELECT s.event_type, s.day,
    abs(tot.n * s.prefix - s.t * tot.total) AS dev
  FROM stats s JOIN tot ON s.event_type = tot.event_type
),
ranked AS (
  SELECT event_type, day, dev,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev DESC, day ASC)
      AS r
  FROM scored
)
SELECT event_type, day AS changepoint_day, CAST(dev AS BIGINT) AS peak_deviation
FROM ranked WHERE r = 1
ORDER BY event_type
""",
)


# ---------------------------------------------------------------------------
# X142: functional-dependency profiler
# ---------------------------------------------------------------------------

_FD_CANDIDATES = [
    ("o_orderkey", "o_custkey"),
    ("o_custkey", "o_orderpriority"),
    ("o_orderdate", "o_orderstatus"),
    ("o_orderkey", "o_orderstatus"),
]


def diag_functional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X142: the data-profiling classic the FK/contract audits don't
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
    # r16 negative result (guide §1 discipline): repartitioning the
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


# ---------------------------------------------------------------------------
# X144: year-over-year monthly growth
# ---------------------------------------------------------------------------


def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X144: the BI staple the daily/weekday diagnostics don't cover —
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
