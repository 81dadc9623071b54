"""Event-stream operators, batch form.

Hourly tumbling-window aggregation, gap-based sessionization, and
keep-latest dedup over the `events` table.

Scale design: every operator shuffles once on its natural key
(window start / user / dedup key). Sessionization is the classic
gaps-and-islands window computation — per-user ordering only, no
global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tumbling_agg(events: DataFrame) -> DataFrame:
    """Per (hour window, event_type) event and distinct-user counts.

    The window start is a plain timestamp column (oracle-friendly);
    F.window produces the same bucketing.
    """
    # NOT date_trunc: that casts TIMESTAMP_NTZ through the session
    # timezone (NTZ→LTZ→NTZ round trip shifts the value). Field
    # extraction + make_timestamp_ntz is timezone-free.
    trunc = F.make_timestamp_ntz(
        F.year("ts"), F.month("ts"), F.dayofmonth("ts"),
        F.hour("ts"), F.lit(0), F.lit(0),
    )
    return (
        events.groupBy(
            trunc.alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Assign gap-based session ids per user (new session when the gap
    since the previous event exceeds 30 minutes).

    Classic gaps-and-islands: lag → boundary flag → running sum.
    Deterministic ordering tie-break on event_id.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # interval-exact gap comparison: works for TIMESTAMP and
    # TIMESTAMP_NTZ alike, no epoch/timezone conversion involved
    gap = F.col("ts") - prev_ts
    is_new = F.when(
        prev_ts.isNull() | (gap > F.expr("INTERVAL 1800 SECONDS")), 1
    ).otherwise(0)
    return events.withColumn(
        "session_seq", F.sum(is_new).over(w).cast("bigint")
    )


def session_stats(events: DataFrame) -> DataFrame:
    """Per-session roll-up: bounds, event count, distinct types."""
    s = sessionize(events)
    return s.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("event_type").alias("n_event_types"),
    )


def dedup_keep_latest(events: DataFrame, keys: list[str]) -> DataFrame:
    """Keep only the latest event per key (ts desc, event_id desc
    tiebreak) — the batch twin of dropDuplicatesWithinWatermark."""
    w = Window.partitionBy(*keys).orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
