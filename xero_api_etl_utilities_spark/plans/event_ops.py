"""Event-stream catalog queries: the ``events_`` family.

Sessionization, tumbling/sliding/session windows, funnels, attribution,
retention cohorts, trailing-window counts, anomalies, sequential
patterns and count-min heavy hitters over the ``events`` table.  No
reference counterpart (``src/queries.ts`` is a bookkeeping ETL); these
are the product-analytics shapes a pipeline runs beside it.  Every
hashed value is an integer or an exact decimal, and every oracle
replays the same algorithm in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import h32_sql
from xero_api_etl_utilities_spark.operators import events as ev
from xero_api_etl_utilities_spark.operators.materialize import materialize
from xero_api_etl_utilities_spark.operators.sketches import cms_build, cms_estimate
from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.plans.flagship import money, money_out
from xero_api_etl_utilities_spark.sources.parquet import load_table


# --------------------------------------------------------------------------
# Event operators (batch form)
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
    """U-dedup: keep-latest-per-key dedup (batch twin of
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
            money(F.col("value")).alias("val"),
        )
        .groupBy("window_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_out(F.sum("val")).alias("value_sum"),
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


def events_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index in exact basis
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
    """Signup→purchase conversion lag — for each user's
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
    """Positional (U-shaped 40/20/40) multi-touch
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
    """Traffic burstiness per event type — the Fano
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


def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day in exact basis points
    — composes the ``events_trailing_7d_distinct`` lowering twice: DAU from the deduped
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


def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch changepoint detection, a CUSUM over the
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


# -------------------------------------------------------- inter-arrival

def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics in integer
    microseconds — min / max / LOWER-MEDIAN gap (the element at rank
    (n+1) div 2, a pure integer convention both engines implement
    identically; an averaged even-count median would reintroduce
    fractional values). Gaps come from ``timestampdiff`` on the
    TIMESTAMP_NTZ column — calendar arithmetic, no timezone or epoch
    conversion anywhere. Users with a single event have no gap and
    drop out.

    Scale shape: one hash-partitioned window sort per user for the
    lag, then per-user aggregation — the same shuffle key end-to-end,
    so AQE coalesces it into one exchange; nothing is corpus-quadratic
    and the median needs no global sort."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "user_id",
            F.expr("timestampdiff(MICROSECOND, prev_ts, ts)").alias("gap_us"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("gap_us")
    wc = Window.partitionBy("user_id")
    med = (
        g.withColumn("rn", F.row_number().over(w2))
        .withColumn("cnt", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select("user_id", F.col("gap_us").alias("med_gap_us"))
    )
    agg = g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
    )
    return agg.join(med, "user_id").select(
        "user_id", "n_gaps", "min_gap_us", "max_gap_us", F.col("med_gap_us").cast("bigint").alias("med_gap_us")
    )


register(
    "events_interarrival",
    events_interarrival,
    """
WITH g AS (
  SELECT user_id,
         date_diff('microsecond',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap_us
  FROM events
  QUALIFY lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NOT NULL
), m AS (
  SELECT user_id, gap_us AS med_gap_us
  FROM (SELECT user_id, gap_us,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY gap_us) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS cnt
        FROM g)
  WHERE rn = (cnt + 1) // 2
), a AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
         CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
  FROM g GROUP BY user_id
)
SELECT a.user_id, a.n_gaps, a.min_gap_us, a.max_gap_us,
       CAST(m.med_gap_us AS BIGINT) AS med_gap_us
FROM a JOIN m USING (user_id)
""",
)


# ------------------------------------------------- gap-fill / transitions

def events_daily_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's event stream to a DAILY
    grid with forward-fill — the canonical time-series densification
    (metrics dashboards, feature snapshots). Last observation per
    (user, day) — deterministic rn=1 under (ts, event_id) DESC — then
    the user's [first_day, last_day] calendar via sequence+explode,
    left join, and ``last(value, ignorenulls=True)`` over an
    unbounded-preceding window.

    Scale shape: everything keys on user_id (AQE reuses one exchange);
    the calendar explode is bounded by each user's day span — no
    global calendar cross join, no range sort."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    lastday = (
        ev.select("user_id", F.to_date("ts").alias("day"), "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", F.col("value").alias("_obs"))
    )
    span = lastday.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    wff = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cal.join(lastday, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.last("_obs", ignorenulls=True).over(wff).alias("value"),
            F.col("_obs").isNotNull().alias("observed"),
        )
    )


register(
    "events_daily_fill_forward",
    events_daily_fill_forward,
    """
WITH lastday AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value AS obs
  FROM events
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                             ORDER BY ts DESC, event_id DESC) = 1
), span AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM lastday GROUP BY user_id
), cal AS (
  SELECT user_id, CAST(gs.d AS DATE) AS day
  FROM span, UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
                                    CAST(d1 AS TIMESTAMP),
                                    INTERVAL 1 DAY)) AS gs(d)
)
SELECT c.user_id, c.day,
  last_value(l.obs IGNORE NULLS) OVER (
    PARTITION BY c.user_id ORDER BY c.day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
  l.obs IS NOT NULL AS observed
FROM cal c LEFT JOIN lastday l ON l.user_id = c.user_id AND l.day = c.day
""",
)


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition counts — for each user,
    consecutive (prev_type → type) bigrams under (ts, event_id) order,
    aggregated corpus-wide. The Markov-chain view of user behavior
    (and the input to next-action models). One user-keyed window + one
    combinable groupBy."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


register(
    "events_transition_matrix",
    events_transition_matrix,
    """
SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
) t WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
""",
)


# ------------------------------------------------ trailing range window

def events_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events_daily_anomalies`` continuation: per-user TRAILING 7-DAY window over the
    daily rollup — a RANGE (event-time interval) frame, not a ROWS
    frame: days with no activity still age out of the window, which
    rows-preceding frames get wrong. Spark side orders by integer
    epoch-day with rangeBetween(-6, 0); the oracle's
    ``RANGE BETWEEN INTERVAL 6 DAY PRECEDING`` over the date column is
    the same frame because days are integers. Money stays in the
    decimal convention end-to-end."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("_v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "user_id",
        "day",
        "n_events",
        F.sum("n_events").over(w).cast("bigint").alias("trailing_events"),
        F.round(F.sum("_v").over(w), 2).cast("double").alias("trailing_value"),
    )


register(
    "events_trailing_7d",
    events_trailing_7d,
    """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(value AS DECIMAL(18,6))) AS v
  FROM events GROUP BY user_id, CAST(ts AS DATE)
)
SELECT user_id, day, n_events,
  CAST(SUM(n_events) OVER w AS BIGINT) AS trailing_events,
  CAST(ROUND(SUM(v) OVER w, 2) AS DOUBLE) AS trailing_value
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
""",
)


def events_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completion — trailing-baseline ANOMALY flags on the daily
    event-type rollup: a day is anomalous when its count deviates from
    the trailing 7-day mean by more than 50%. The comparison is pure
    integer cross-multiplication (|n·days − Σ|·2 > Σ ⟺
    |n − mean| > mean/2), so no float division ever reaches the hashed
    result — the same exactness contract as the quality-rule packs.
    The trailing frame is a RANGE over epoch-day (rows-preceding
    frames mis-age absent days); warm-up days (< 3 trailing days) are
    never flagged. At 100 TB the rollup is the only shuffle; the
    window runs per event_type over ~days-sized partitions."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01")))
        .rangeBetween(-7, -1)
    )
    tn = F.count(F.lit(1)).over(w).cast("bigint")
    ts_ = F.sum("n").over(w).cast("bigint")
    dev = F.abs(F.col("n") * F.col("trailing_days") - F.col("trailing_sum"))
    return (
        daily.select(
            "day",
            "event_type",
            "n",
            tn.alias("trailing_days"),
            ts_.alias("trailing_sum"),
        )
        .withColumn(
            "anomaly",
            F.when(
                F.col("trailing_days") >= 3,
                2 * dev > F.col("trailing_sum"),
            ).otherwise(F.lit(False)),
        )
    )


register(
    "events_daily_anomalies",
    events_daily_anomalies,
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY CAST(ts AS DATE), event_type
), win AS (
  SELECT day, event_type, n,
    CAST(COUNT(*) OVER w AS BIGINT) AS trailing_days,
    CAST(SUM(n) OVER w AS BIGINT) AS trailing_sum
  FROM daily
  WINDOW w AS (PARTITION BY event_type
               ORDER BY datediff('day', DATE '1970-01-01', day)
               RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT day, event_type, n, trailing_days, trailing_sum,
  CASE WHEN trailing_days >= 3
       THEN 2 * abs(n * trailing_days - trailing_sum) > trailing_sum
       ELSE FALSE END AS anomaly
FROM win
""",
)


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshape completion (UNPIVOT is ``unpivot_measures``; this is the PIVOT
    direction): the day × event-type count matrix, lowered by hand to
    conditional aggregates — ``sum(when(type = v, 1))`` per listed
    value — in ONE shuffle on the day key.

    Measured reason not to use ``groupBy().pivot(values)`` even with
    the value list explicit: Spark plans pivot as TWO aggregations —
    groupBy(day, type) count, Exchange on (day, type), then a
    ``pivotfirst`` re-aggregation with a SECOND Exchange on day
    (verified via explain on this very query) — double the shuffle of
    the conditional-agg form for a fixed small value set. (An UNLISTED
    pivot is worse still: an extra eager distinct-scan job at plan
    time to discover columns.) The audit pins this plan to a single
    hashpartitioning."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{t}")
            for t in _EVENT_TYPES
        ]
    )


register(
    "events_pivot_daily",
    events_pivot_daily,
    f"""
SELECT CAST(ts AS DATE) AS day,
  {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}" for t in _EVENT_TYPES)}
FROM events
GROUP BY CAST(ts AS DATE)
""",
)


def events_user_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-accounting rollup: per day — active users, NEW users
    (first-ever activity), returning = active − new, and CUMULATIVE
    distinct users to date. The scale shape matters: cumulative
    distinct is NOT a running count_distinct window (quadratic state,
    and Spark rightly refuses DISTINCT in windows) — it is first-seen
    day per user (one agg), then daily new-user counts, then a running
    SUM over the ~days-sized frame. Two fact-table aggs + one tiny
    window; nothing quadratic anywhere."""
    ev = load_table(spark, sf_dir, "events")
    daily_active = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").cast("bigint").alias("active_users")
    )
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    daily_new = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily_active.join(daily_new, "day", "left")
        .select(
            "day",
            "active_users",
            F.coalesce("new_users", F.lit(0)).cast("bigint").alias("new_users"),
        )
        .repartition(1)  # ~30 rows: the running sum runs on the rollup
        .withColumn(
            "cumulative_users", F.sum("new_users").over(w).cast("bigint")
        )
        .withColumn(
            "returning_users",
            (F.col("active_users") - F.col("new_users")).cast("bigint"),
        )
    )


register(
    "events_user_accumulation",
    events_user_accumulation,
    """
WITH active AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
  FROM events GROUP BY CAST(ts AS DATE)
), fs AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
), newu AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users FROM fs GROUP BY day
)
SELECT a.day, a.active_users,
  CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
  CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY a.day
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative_users,
  CAST(a.active_users - COALESCE(n.new_users, 0) AS BIGINT) AS returning_users
FROM active a LEFT JOIN newu n ON a.day = n.day
""",
)


# ------------------------------------------- trailing-window distinct users

def events_trailing_7d_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day DISTINCT users per day — the sliding-window
    metric whose naive form (a DISTINCT inside a RANGE window) Spark
    cannot express and a 100 TB engine must decompose anyway:
    (1) collapse the fact to DISTINCT (day, user) — the only
    fact-sized aggregate, after which everything is per-day-cardinality;
    (2) fan each deduped row out over the <=7 target days it serves —
    as an EXPLODE of sequence(day, day+6), a pure projection (a range
    join against the day list would plan as a broadcast nested loop;
    the explode form needs no join at all), semi-joined against the
    tiny real-day list to drop phantom targets past the horizon;
    (3) count distinct per target day. Fan-out is bounded by the
    window length and happens AFTER dedup — the lesson is the order:
    dedupe-then-fan-out shuffles |days|×users rows, fan-out-then-dedupe
    would shuffle 7× the raw fact."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    days = du.select(F.col("day").alias("d")).distinct()
    fanned = du.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias("d"),
        "user_id",
    )
    return (
        fanned.join(F.broadcast(days), "d", "left_semi")
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_7d"))
        .orderBy("d")
        .withColumnRenamed("d", "day")
    )


register(
    "events_trailing_7d_distinct",
    events_trailing_7d_distinct,
    """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day AS d FROM du)
SELECT d AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_7d
FROM du JOIN days ON datediff('day', du.day, d) BETWEEN 0 AND 6
GROUP BY d
ORDER BY d
""",
)


def events_trailing_7d_distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events_trailing_7d_distinct``'s 100 TB path: the same rolling 7-day
    distinct-user metric
    computed from MERGEABLE per-day HLL sketches — at scale you never
    re-touch user ids per window; each day contributes ONE fixed-size
    sketch (map-side combinable) and a window is hll_union of <= 7
    sketches. Here each day's sketch fans out to the windows it
    serves (same explode-not-range-join lowering as the exact form)
    and the union+estimate runs per target day. The exact count rides
    along and the published column is the honesty boolean — estimate
    within 5% — the same tolerance-oracle pattern as
    agg_approx_distinct_ok (sketch internals are engine-specific, so
    the DuckDB oracle asserts the exact count and TRUE)."""
    ev = load_table(spark, sf_dir, "events")
    day_sketch = (
        ev.select(F.col("ts").cast("date").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    )
    days = day_sketch.select(F.col("day").alias("d")).distinct()
    fanned = day_sketch.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias("d"),
        "sk",
    )
    approx = (
        fanned.join(F.broadcast(days), "d", "left_semi")
        .groupBy("d")
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("approx_7d"))
    )
    du = ev.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    exact = (
        du.select(
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("d"),
            "user_id",
        )
        .join(F.broadcast(days), "d", "left_semi")
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_7d"))
    )
    return (
        exact.join(approx, "d")
        .select(
            F.col("d").alias("day"),
            "exact_7d",
            (
                F.abs(F.col("approx_7d") - F.col("exact_7d")) * 100
                <= 5 * F.col("exact_7d")
            ).alias("approx_ok"),
        )
        .orderBy("day")
    )


register(
    "events_trailing_7d_distinct_approx",
    events_trailing_7d_distinct_approx,
    """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day AS d FROM du)
SELECT d AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_7d,
  TRUE AS approx_ok
FROM du JOIN days ON datediff('day', du.day, d) BETWEEN 0 AND 6
GROUP BY d
ORDER BY d
""",
)


def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent 30-minute activity windows per day — the
    sweep-line (+1 at start, −1 at end) with its running sum computed
    the DISTRIBUTED way: a global ORDER BY prefix sum would drag every
    boundary to one partition, so the prefix is split into (a) a
    within-day running sum (day-partitioned window — each day's
    boundaries stay on one task, the natural parallel grain) plus
    (b) an exclusive cross-day offset from the per-day delta totals
    (a #days-row aggregate; ITS global window runs over that tiny
    frame only — same 25-row precedent as window_share_of_total).
    Boundary order is total: (ts, delta, event_id) with ends before
    starts at the same instant, i.e. half-open [ts, ts+30m)
    intervals. Every number is an integer; the oracle replays the
    identical two-level decomposition."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    starts = ev.select(
        F.col("ts").alias("bts"), F.lit(1).alias("delta"), "event_id"
    )
    ends = ev.select(
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("bts"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    b = starts.unionAll(ends).withColumn("day", F.col("bts").cast("date"))
    run_w = (
        Window.partitionBy("day")
        .orderBy("bts", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = b.withColumn("run", F.sum("delta").over(run_w))
    day_tot = b.groupBy("day").agg(F.sum("delta").alias("day_delta"))
    off_w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = day_tot.withColumn(
        "offset", F.sum("day_delta").over(off_w) - F.col("day_delta")
    ).select("day", "offset")
    # the day's peak must also consider the level CARRIED INTO the day
    # (offset alone): sessions opened yesterday and still all open at
    # 00:00 dominate until the first boundary of the day fires
    return (
        within.join(F.broadcast(offsets), "day")
        .groupBy("day")
        .agg(
            F.greatest(
                F.max(F.col("offset") + F.col("run")), F.min("offset")
            )
            .cast("bigint")
            .alias("max_concurrency")
        )
        .orderBy("day")
    )


register(
    "events_max_concurrency",
    events_max_concurrency,
    """
WITH b AS (
  SELECT ts AS bts, 1 AS delta, event_id FROM events
  UNION ALL
  SELECT ts + INTERVAL 30 MINUTE, -1, event_id FROM events
),
bb AS (SELECT *, CAST(bts AS DATE) AS day FROM b),
within AS (
  SELECT day, bts,
    SUM(delta) OVER (PARTITION BY day ORDER BY bts, delta, event_id
                     ROWS UNBOUNDED PRECEDING) AS run
  FROM bb
),
offsets AS (
  SELECT day,
    SUM(day_delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) - day_delta
      AS off
  FROM (SELECT day, SUM(delta) AS day_delta FROM bb GROUP BY day)
)
SELECT w.day,
  CAST(GREATEST(MAX(o.off + w.run), MIN(o.off)) AS BIGINT) AS max_concurrency
FROM within w JOIN offsets o ON w.day = o.day
GROUP BY w.day
ORDER BY w.day
""",
)


_CMS_D, _CMS_W = 4, 64


def events_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heaviest users by count-min ESTIMATE, with the exact
    count beside it — the fixed-memory frequency sketch
    (operators/sketches.py) read back for a candidate set. At 100 TB
    the sketch build shuffles <= d·w counters per task however many
    distinct keys exist; the exact column here is the audit trail
    (est >= exact always; equality when no bucket collision). The
    oracle re-runs the identical md5-bucketed sketch in SQL, so the
    ESTIMATES are hash-verified, not just bounded."""
    ev = load_table(spark, sf_dir, "events")
    sketch = cms_build(ev, "user_id", d=_CMS_D, w=_CMS_W)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    est = cms_estimate(exact, sketch, "user_id", d=_CMS_D, w=_CMS_W)
    return (
        exact.join(est, "user_id")
        .select("user_id", "est_count", "exact_count")
        .orderBy(F.desc("est_count"), F.asc("user_id"))
        .limit(10)
    )


def _cms_oracle() -> str:
    rows = ", ".join(str(i) for i in range(_CMS_D))
    hashed = h32_sql("i || ':' || CAST(user_id AS VARCHAR)")
    bucket = f"CAST({hashed} AS BIGINT) % {_CMS_W}"
    return f"""
WITH keyed AS (
  SELECT user_id, i, {bucket} AS b
  FROM events CROSS JOIN (SELECT UNNEST([{rows}]) AS i)
),
sketch AS (
  SELECT i, b, COUNT(*) AS c FROM keyed GROUP BY i, b
),
cand AS (
  SELECT DISTINCT user_id, i, b FROM keyed
),
est AS (
  SELECT cand.user_id, MIN(sketch.c) AS est_count
  FROM cand JOIN sketch ON sketch.i = cand.i AND sketch.b = cand.b
  GROUP BY cand.user_id
),
exact AS (
  SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY user_id
)
SELECT exact.user_id AS user_id, CAST(est_count AS BIGINT) AS est_count,
  CAST(exact_count AS BIGINT) AS exact_count
FROM exact JOIN est ON est.user_id = exact.user_id
ORDER BY est_count DESC, exact.user_id ASC
LIMIT 10
"""


register("events_heavy_hitters_cms", events_heavy_hitters_cms, _cms_oracle)


# ---------------------------------------------------------------------------
# exact per-key OLS trend
# ---------------------------------------------------------------------------


def events_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of the daily event count per event
    type, computed EXACTLY.  With x = epoch-day (integer) and
    y = daily count (integer), the OLS slope is the rational

        (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    Both numerator and denominator are pure integer sums, and both are
    invariant under shifting x — so using the raw epoch-day avoids a
    second pass to find min(day), and the published values are still
    the canonical slope rational.  The float division never happens in
    either engine: consumers get (num, den) plus an integer sign
    verdict.  Shape: one day-grain aggregate (map-side combinable)
    then one 5-group aggregate — two tiny shuffles, no window, no
    collect.  At 100 TB the day-grain pre-aggregate is the same plan;
    epoch-day ≈ 2·10⁴ so Σx² per group stays < 2⁶³ until ~10¹² distinct
    days — never."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    x = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).cast("long")
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(x * F.col("y")).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        num.alias("slope_num"),
        den.alias("slope_den"),
        F.signum(num).cast("int").alias("trend_sign"),
    ).orderBy("event_type")


register(
    "events_daily_trend",
    events_daily_trend,
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS n,
    SUM(CAST(day - DATE '1970-01-01' AS BIGINT)) AS sx,
    SUM(y) AS sy,
    SUM(CAST(day - DATE '1970-01-01' AS BIGINT) * y) AS sxy,
    SUM(CAST(day - DATE '1970-01-01' AS BIGINT)
        * CAST(day - DATE '1970-01-01' AS BIGINT)) AS sxx
  FROM daily GROUP BY 1
)
SELECT event_type, n AS n_days,
  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
  CAST(sign(n * sxy - sx * sy) AS INTEGER) AS trend_sign
FROM s ORDER BY event_type
""",
)


# ---------------------------------------------------------------------------
# clamped running balance (non-linear prefix fold)
# ---------------------------------------------------------------------------

_CLAMP_ENC = 1 << 40  # hits live above bit 40; |balance| << 2^40 by data bound


def events_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user credit-ledger balance with a floor at zero —
    bal_i = max(0, bal_{i-1} + flow_i) — the canonical NON-LINEAR
    prefix recurrence that no SQL window frame can express (a running
    sum distributes over the frame; a clamped one does not, each step
    depends on the clamped previous step).  Lowered as an in-row
    ``aggregate`` fold over the user's time-ordered flow array, with
    TWO counters packed into the single bigint accumulator (balance
    in the low 40 bits, clamp-hit count above — the fold API gives
    one slot, so the encoding buys a second at zero cost; flows are
    bounded at ~2·10⁷ cents per user, 13 bits of headroom under the
    split).  Flows: purchase/signup credit, view/click/error debit.

    Shape: one user-keyed aggregate (collect → sort → fold, all
    in-row after the exchange); per-user arrays are bounded by
    per-user activity (the doc_pack_chunks contract).  The oracle
    replays the identical fold via DuckDB ``list_reduce`` — same
    encoding, same greatest() — so final balances AND clamp counts
    are digit-exact."""
    ev = load_table(spark, sf_dir, "events")
    signed = F.when(
        F.col("event_type").isin("purchase", "signup"),
        F.round(F.col("value") * 100).cast("long"),
    ).otherwise(-F.round(F.col("value") * 100).cast("long"))
    enc = _CLAMP_ENC
    fold = F.expr(
        f"""aggregate(
  transform(sort_array(collect_list(struct(ts, event_id, c))), s -> s.c),
  cast(0 as bigint),
  (a, x) -> greatest(a % {enc} + x, cast(0 as bigint))
            + (a div {enc}
               + (case when a % {enc} + x < 0 then 1 else 0 end)) * {enc})"""
    )
    return (
        ev.select("user_id", "ts", "event_id", signed.alias("c"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_flows"),
            fold.alias("_acc"),
        )
        .select(
            "user_id",
            "n_flows",
            (F.col("_acc") % enc).alias("balance_cents"),
            (F.col("_acc") / enc).cast("long").alias("clamp_hits"),
        )
        .orderBy("user_id")
    )


register(
    "events_clamped_balance",
    events_clamped_balance,
    f"""
WITH flows AS (
  SELECT user_id, ts, event_id,
    CASE WHEN event_type IN ('purchase', 'signup')
         THEN CAST(round(value * 100) AS BIGINT)
         ELSE -CAST(round(value * 100) AS BIGINT) END AS c
  FROM events
),
folded AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_flows,
    list_reduce(
      list_prepend(CAST(0 AS BIGINT), list(c ORDER BY ts, event_id)),
      (a, x) -> greatest(a % {_CLAMP_ENC} + x, CAST(0 AS BIGINT))
                + (a // {_CLAMP_ENC}
                   + CASE WHEN a % {_CLAMP_ENC} + x < 0 THEN 1 ELSE 0 END)
                  * {_CLAMP_ENC}) AS acc
  FROM flows GROUP BY user_id
)
SELECT user_id, n_flows,
  acc % {_CLAMP_ENC} AS balance_cents,
  acc // {_CLAMP_ENC} AS clamp_hits
FROM folded ORDER BY user_id
""",
)


# ---------------------------------------------------------------------------
# session bounce rate
# ---------------------------------------------------------------------------


def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate — share of sessions (30-min gap rule,
    the events_sessionization convention via operators/events.py)
    containing exactly one event, keyed by the session's start day.
    The product metric composed from the existing sessionize operator:
    one user-keyed window, one session roll-up, one day-grain
    aggregate; bounce_bp integer-exact."""
    from xero_api_etl_utilities_spark.operators.events import session_stats

    ev = load_table(spark, sf_dir, "events")
    sess = session_stats(ev)
    return (
        sess.groupBy(F.col("session_start").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("long")).alias("n_bounces"),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounces",
            F.expr("10000 * n_bounces div n_sessions").alias("bounce_bp"),
        )
        .orderBy("day")
    )


register(
    "events_bounce_rate",
    events_bounce_rate,
    """
WITH ordered AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w > INTERVAL 1800 SECOND
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS session_seq,
    ts
  FROM ordered
),
rolled AS (
  SELECT user_id, session_seq, MIN(ts) AS session_start,
    COUNT(*) AS n_events
  FROM sess GROUP BY 1, 2
)
SELECT CAST(session_start AS DATE) AS day,
  CAST(COUNT(*) AS BIGINT) AS n_sessions,
  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
  CAST((10000 * SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)) // COUNT(*)
    AS BIGINT) AS bounce_bp
FROM rolled
GROUP BY 1 ORDER BY day
""",
)


# ---------------------------------------------------------------------------
# recency-decayed scores via integer half-life shifts
# ---------------------------------------------------------------------------


def events_decayed_type_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted popularity per event type with an
    EXPONENTIAL half-life decay that never touches a float: weight =
    2^(20 − age_weeks) (one-week half-life, anchored at the corpus'
    newest day) computed as a bigint bitshift, 0 past 20 weeks.
    exp(-λt) with integral λ·t ln2-multiples IS a shift — the whole
    decay curve stays hash-exact, where the usual double pow() form
    is libm-dependent.  The anchor day is a 1-row driver scalar (the
    q11 pattern).  Shape: one scan projection + one 5-group
    aggregate; nothing changes at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.col("ts").cast("date")).alias("d")).collect()[0]["d"]
    aw = f"(datediff(date '{anchor.isoformat()}', cast(ts as date)) div 7)"
    # python-side F.shiftleft takes a literal bit count; the SQL form
    # accepts a column, so the whole weight stays one expression
    weight = F.expr(
        f"case when {aw} <= 20"
        f" then shiftleft(cast(1 as bigint), cast(20 - {aw} as int))"
        f" else cast(0 as bigint) end"
    )
    return (
        ev.select("event_type", weight.alias("w"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("w").alias("decayed_score"),
        )
        .orderBy("event_type")
    )


def _decayed_oracle() -> str:
    return """
WITH anchor AS (SELECT MAX(CAST(ts AS DATE)) AS d FROM events)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CASE WHEN (a.d - CAST(ts AS DATE)) // 7 <= 20
       THEN CAST(1 AS BIGINT) << CAST(20 - (a.d - CAST(ts AS DATE)) // 7 AS INTEGER)
       ELSE 0 END) AS BIGINT) AS decayed_score
FROM events, anchor a
GROUP BY event_type
ORDER BY event_type
"""


register("events_decayed_type_scores", events_decayed_type_scores, _decayed_oracle)


# ---------------------------------------------------------------------------
# Simpson concentration index (integer-exact behavioral diversity)
# ---------------------------------------------------------------------------


def events_user_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral concentration via the Simpson index —
    the integer-exact stand-in for Shannon entropy (whose ln() can
    never enter a hashed column).  With per-type counts c_i and total
    n, the concentration Σp_i² = Σc_i² / n² is a pure integer
    rational; 10000 = single-minded, → 10000/k for a user spread
    evenly over k types.  Published as (num, den, bp) with integer
    division, the same convention as every other bp metric here.
    Shape: one (user, type) count aggregate (map-side combinable)
    folded into one per-user aggregate — two shuffles on the user
    key, no window, no join; identical plan at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        per_type.groupBy("user_id")
        .agg(
            F.sum("c").alias("n_events"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.col("c") * F.col("c")).alias("simpson_num"),
        )
        .select(
            "user_id",
            "n_events",
            "n_types",
            "simpson_num",
            (F.col("n_events") * F.col("n_events")).alias("simpson_den"),
            F.expr(
                "10000 * simpson_num div (n_events * n_events)"
            ).alias("concentration_bp"),
        )
        .orderBy("user_id")
    )


register(
    "events_user_diversity",
    events_user_diversity,
    """
WITH per_type AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
)
SELECT user_id,
  CAST(SUM(c) AS BIGINT) AS n_events,
  CAST(COUNT(*) AS BIGINT) AS n_types,
  CAST(SUM(c * c) AS BIGINT) AS simpson_num,
  CAST(SUM(c) * SUM(c) AS BIGINT) AS simpson_den,
  CAST((10000 * SUM(c * c)) // (SUM(c) * SUM(c)) AS BIGINT) AS concentration_bp
FROM per_type
GROUP BY user_id
ORDER BY user_id
""",
)


# ---------------------------------------------------------------------------
# sequential-pattern support (PrefixSpan depth 2)
# ---------------------------------------------------------------------------


def events_seq_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support of ordered event-type pairs across user-day
    sequences.  A sequence (one user's one day, ordered by (ts,
    event_id)) supports a -> b iff SOME a-event precedes SOME b-event
    — the PrefixSpan subsequence semantics, not adjacency (adjacency
    is ``events_transition_matrix``; full contiguous paths are
    ``events_top_paths``).

    Lowering: exists i<j with type_i=a, type_j=b  <=>  the FIRST a
    precedes the LAST b.  So one row_number window per user-day, a
    (user, day, type)-grain min/max aggregate (5 types -> <= 5 rows
    per sequence), and a self-join keyed on the sequence id that is
    quadratic only in the per-sequence type count (<= 25 pairs).  The
    expensive fact-sized steps are one user-keyed exchange and one
    map-side-combinable aggregate; support counting shuffles pair
    names only.  At 100 TB this is exactly the sessionize shape plus a
    bounded per-entity join — no pattern-growth recursion needed at
    depth 2.

    Support is published both as a user-day count and in bp relative
    to the total sequence count, with a ``frequent`` verdict at a
    relative minsup of 850 bp — relative, so the verdict is scale-free
    (the lesson from ``basket_brand_triples``)."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        "event_type",
        F.row_number()
        .over(
            Window.partitionBy("user_id", F.col("ts").cast("date")).orderBy(
                "ts", "event_id"
            )
        )
        .alias("s"),
    )
    mm = seq.groupBy("user_id", "d", "event_type").agg(
        F.min("s").alias("mn"), F.max("s").alias("mx")
    )
    # total sequence count rides along as a broadcast 1-row frame — an
    # eager .count() here would run the row_number scan as a separate
    # job at plan-BUILD time, before the consumer even executes
    tot = (
        mm.select("user_id", "d")
        .distinct()
        .agg(F.count(F.lit(1)).alias("total"))
    )
    a = mm.select("user_id", "d", F.col("event_type").alias("ante"), "mn")
    b = mm.select(
        F.col("user_id").alias("u2"),
        F.col("d").alias("d2"),
        F.col("event_type").alias("cons"),
        "mx",
    )
    sup = (
        a.join(
            b,
            (F.col("user_id") == F.col("u2"))
            & (F.col("d") == F.col("d2"))
            & (F.col("ante") != F.col("cons"))
            & (F.col("mn") < F.col("mx")),
        )
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("support_seqs"))
    )
    # integer `div`, not float `/`-then-cast: the float path diverges
    # from the oracle's `//` once support·10⁴ passes 2⁵³
    return (
        sup.crossJoin(F.broadcast(tot))
        .select(
            "ante",
            "cons",
            "support_seqs",
            F.expr("support_seqs * 10000 div total").alias("support_bp"),
            (F.col("support_seqs") * 10000 >= F.lit(850) * F.col("total")).alias(
                "frequent"
            ),
        )
        .orderBy("ante", "cons")
    )


_SEQ_PAIRS_ORACLE = """
WITH seq AS (
  SELECT user_id, ts::DATE AS d, event_type,
         row_number() OVER (PARTITION BY user_id, ts::DATE
                            ORDER BY ts, event_id) AS s
  FROM events
), mm AS (
  SELECT user_id, d, event_type, min(s) AS mn, max(s) AS mx
  FROM seq GROUP BY 1, 2, 3
), tot AS (
  SELECT count(*)::BIGINT AS n
  FROM (SELECT DISTINCT user_id, d FROM mm)
)
SELECT a.event_type AS ante, b.event_type AS cons,
       count(*)::BIGINT AS support_seqs,
       (count(*)::BIGINT * 10000) // (SELECT n FROM tot) AS support_bp,
       count(*)::BIGINT * 10000 >= 850 * (SELECT n FROM tot) AS frequent
FROM mm a
JOIN mm b ON a.user_id = b.user_id AND a.d = b.d
         AND a.event_type <> b.event_type AND a.mn < b.mx
GROUP BY 1, 2
ORDER BY 1, 2
"""

register("events_seq_pairs", events_seq_pairs, _SEQ_PAIRS_ORACLE)


# ---------------------------------------------------------------------------
# funnel with NEGATION — view→purchase within 7 days, no error between
# ---------------------------------------------------------------------------


def events_funnel_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern with an EXCLUSION
    term — per user, a purchase CONVERTS when (a) a view precedes it,
    (b) the purchase lands within 7 days of the LATEST such view, and
    (c) no error event falls strictly between that view and the
    purchase.  The existing funnel family (events_funnel,
    events_top_paths) covers positive progressions; the negated
    middle term is the shape ANSI row-pattern matching exists for
    (A B* C with B excluded), re-expressed here without any engine
    extension.

    Spark-first shape: ONE shuffle (groupBy user) + an ordered
    linear-time fold over each user's event array tracking the last
    view and last error as (ts, event_id) structs — the exclusion test
    is one lexicographic struct compare (last_error < last_view), so
    ties at identical timestamps resolve identically in both engines
    via the event_id tiebreak.  The oracle runs the window-function
    formulation (row_number sequencing + two running maxes + a
    join-back for the view timestamp); both provably classify each
    purchase identically.  Per-user event counts are bounded
    (sessionized upstream), so the collected arrays stay small; at
    100 TB this stays one pass per user."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    arr = F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type")))
    pair_t = "struct<ts:timestamp_ntz,id:bigint>"

    def mark(e):
        return F.struct(e["ts"].alias("ts"), e["event_id"].alias("id"))

    def repack(acc, lv=None, le=None, np=None, nc=None, fc=None):
        return F.struct(
            (lv if lv is not None else acc["lv"]).alias("lv"),
            (le if le is not None else acc["le"]).alias("le"),
            (np if np is not None else acc["np"]).alias("np"),
            (nc if nc is not None else acc["nc"]).alias("nc"),
            (fc if fc is not None else acc["fc"]).alias("fc"),
        )

    def step(acc, e):
        converts = (
            acc["lv"].isNotNull()
            & (e["ts"] <= acc["lv"]["ts"] + F.expr("INTERVAL 7 DAYS"))
            & (acc["le"].isNull() | (acc["le"] < acc["lv"]))
        )
        return (
            F.when(e["event_type"] == "view", repack(acc, lv=mark(e)))
            .when(e["event_type"] == "error", repack(acc, le=mark(e)))
            .when(
                e["event_type"] == "purchase",
                repack(
                    acc,
                    np=acc["np"] + F.lit(1).cast("bigint"),
                    nc=acc["nc"]
                    + F.when(converts, F.lit(1)).otherwise(F.lit(0)).cast("bigint"),
                    fc=F.when(
                        converts & acc["fc"].isNull(), e["ts"]
                    ).otherwise(acc["fc"]),
                ),
            )
            .otherwise(acc)
        )

    init = F.struct(
        F.lit(None).cast(pair_t).alias("lv"),
        F.lit(None).cast(pair_t).alias("le"),
        F.lit(0).cast("bigint").alias("np"),
        F.lit(0).cast("bigint").alias("nc"),
        F.lit(None).cast("timestamp_ntz").alias("fc"),
    )
    return (
        ev.groupBy("user_id")
        .agg(F.aggregate(arr, init, step).alias("f"))
        .filter(F.col("f.np") > 0)
        .select(
            "user_id",
            F.col("f.np").alias("n_purchases"),
            F.col("f.nc").alias("n_converted"),
            F.col("f.fc").alias("first_conversion_ts"),
        )
    )


_FUNNEL_EXCLUSION_ORACLE = """
WITH s AS (
  SELECT user_id, event_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), o AS (
  SELECT user_id, ts, event_type, rn,
         max(CASE WHEN event_type = 'view' THEN rn END) OVER w AS lv_rn,
         max(CASE WHEN event_type = 'error' THEN rn END) OVER w AS le_rn
  FROM s
  WINDOW w AS (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), p AS (
  SELECT o.user_id, o.ts,
         (o.lv_rn IS NOT NULL
          AND o.ts <= v.ts + INTERVAL 7 DAY
          AND (o.le_rn IS NULL OR o.le_rn < o.lv_rn)) AS conv
  FROM o
  LEFT JOIN s v ON v.user_id = o.user_id AND v.rn = o.lv_rn
  WHERE o.event_type = 'purchase'
)
SELECT user_id,
  count(*)::BIGINT AS n_purchases,
  sum(CASE WHEN conv THEN 1 ELSE 0 END)::BIGINT AS n_converted,
  min(CASE WHEN conv THEN ts END) AS first_conversion_ts
FROM p
GROUP BY user_id
"""


register(
    "events_funnel_exclusion",
    events_funnel_exclusion,
    _FUNNEL_EXCLUSION_ORACLE,
)
