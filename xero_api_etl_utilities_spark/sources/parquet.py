"""Parquet star-schema source (the engine's primary batch source).

The reference reads facts/dims from Postgres via per-query select lists
(/root/reference/src/queries.ts:12-121); here every table is a parquet
scan whose projection and predicates Catalyst pushes into the reader
(`PushedFilters`/`ReadSchema` in `.explain`), which is the scan
discipline that survives a 100 TB table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table as a DataFrame (lazy parquet scan).

    ``events.ts`` is type-adaptive: parquet TIMESTAMP(MICROS) (the
    current testdata) reads natively as TIMESTAMP_NTZ; parquet
    TIMESTAMP(NANOS), which Spark's reader rejects outright
    (PARQUET_TYPE_ILLEGAL), is read as raw nanos via the nanosAsLong
    legacy conf and rebuilt as TIMESTAMP_NTZ at microsecond precision
    (flooring, which matches DuckDB's own ns→datetime conversion).
    Either way downstream sees the same TIMESTAMP_NTZ column, anchored
    so the value never depends on the session timezone.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        try:
            raw = spark.read.parquet(path)
            ts_type = raw.schema["ts"].dataType.typeName()
        except Exception:
            ts_type = None  # schema resolution rejected TIMESTAMP(NANOS)
        if ts_type == "timestamp_ntz":
            return raw
        if ts_type == "timestamp":
            # Session-tz-adjusted micros: strip the zone deterministically.
            # A bare TIMESTAMP→TIMESTAMP_NTZ cast renders the instant in
            # the SESSION timezone (value would drift with the session
            # conf); pre-shifting by the actual session zone makes the
            # rendered wall-clock the UTC one regardless of session tz.
            tz = spark.conf.get("spark.sql.session.timeZone")
            return raw.withColumn(
                "ts", F.to_utc_timestamp(F.col("ts"), tz).cast("timestamp_ntz")
            )
        # Legacy nanos path. Scope the legacy conf to THIS read: the
        # nanos→long schema conversion happens at footer-schema
        # resolution (forced below via .schema), so restoring the prior
        # value afterwards does not break later execution of this
        # DataFrame — verified — while a later unrelated read in the
        # session no longer silently decodes TIMESTAMP(NANOS) columns
        # as raw longs.
        try:
            prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
        except Exception:
            prior = None
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            raw = spark.read.parquet(path)
            raw.schema
        finally:
            if prior is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
        return raw.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return spark.read.parquet(path)

