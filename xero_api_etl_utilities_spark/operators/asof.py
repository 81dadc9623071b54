"""As-of join — point-in-time lookup Spark has no native operator for.

For each left row, attach the most recent right row with the same key
whose timestamp is <= (backward) the left timestamp. The classic
implementations are a range join (quadratic blowup per key) or a
per-key loop; the scale-correct Spark expression is the
union-sort-window trick:

    union both sides tagged → one window per key ordered by
    (ts, side) → last_value(right attrs, ignorenulls) over rows
    unbounded preceding → keep left rows

One shuffle on the key, sequential scan per key group, no range
explosion — the same shape a 100 TB backfill join wants. DuckDB ships
a native ASOF JOIN, which serves as the oracle for this operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
) -> DataFrame:
    """Backward as-of join (latest right row at-or-before each left row).

    ``right_cols`` are the right-side attributes to attach (default:
    everything except key and timestamp). Right rows ordered before
    left rows at equal timestamps (a right row AT the left timestamp
    matches, mirroring DuckDB ASOF `>=` semantics).
    """
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, right_ts)]

    # The fill must carry ALL right attributes as ONE struct: filling
    # each column independently with last(ignorenulls) would stitch
    # together values from DIFFERENT right rows whenever a newer right
    # row has a legitimately-NULL attribute (an older row's value would
    # bleed through for that column only).
    lrow_type = T.StructType(
        [T.StructField(c, left.schema[c].dataType, True) for c in left.columns]
    )
    rrow_type = T.StructType(
        [T.StructField(c, right.schema[c].dataType, True) for c in right_cols]
        + [T.StructField("_r_ts", right.schema[right_ts].dataType, True)]
    )
    lt = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(rrow_type).alias("_rrow"),
    )
    rt = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(lrow_type).alias("_lrow"),
        F.struct(
            *[F.col(c) for c in right_cols],
            F.col(right_ts).alias("_r_ts"),
        ).alias("_rrow"),
    )
    merged = lt.unionByName(rt)
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = merged.select(
        "_side",
        "_lrow",
        F.last(F.col("_rrow"), ignorenulls=True).over(w).alias("_rrow"),
    ).filter(F.col("_side") == 1)
    return filled.select(
        F.col("_lrow.*"),
        *[
            F.col(f"_rrow.{c}").alias(f"{c}_right" if c in left.columns else c)
            for c in right_cols
        ],
        F.col("_rrow._r_ts").alias(f"{right_ts}_right"),
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """NEAREST as-of join (pandas ``merge_asof(direction='nearest')``):
    for each left row, the same-key right row with the smallest
    |``left_ts`` - ``right_ts``| in EITHER direction, ties preferring
    the backward (at-or-before) candidate — sensor alignment and
    nearest-reading lookups, where backward-only would discard a
    reading 1 s in the future in favor of one an hour old.  Each left
    row gains the match's other right columns (suffixed ``_right``
    where the left has the name) and its ``<right_ts>_right``.

    Lowering: the SAME single union-sort pass as
    :func:`asof_join_backward`, with TWO frames over one window order
    — last-right-before (unbounded preceding) and first-right-after
    (unbounded following) — then an in-row |Δ| compare picks the
    closer struct.  Still one shuffle on the key, no range join.  Δ
    compares in exact integer micros for timestamps (bigint for
    numerics) — no float tie ambiguity.

    Determinism contract: right rows must be unique per (key, ts) —
    duplicate-ts right rows make ANY as-of fill order-dependent;
    dedup the right side first (the catalog query keeps max id)."""
    ts_is_timestamp = isinstance(
        left.schema[left_ts].dataType, (T.TimestampType, T.TimestampNTZType)
    )

    def _n(col):
        # exact integer axis for the |delta| compare: micros for
        # timestamps (NTZ goes through one session-zone cast — a
        # constant shift that cancels in the subtraction), bigint for
        # numeric/version axes (both sides must share the axis type —
        # the backward variant's contract)
        if ts_is_timestamp:
            return F.unix_micros(col.cast("timestamp"))
        return col.cast("bigint")

    right_cols = [c for c in right.columns if c not in (on, right_ts)]
    lrow_type = T.StructType(
        [T.StructField(c, left.schema[c].dataType, True) for c in left.columns]
    )
    rrow_type = T.StructType(
        [T.StructField(c, right.schema[c].dataType, True) for c in right_cols]
        + [T.StructField("_r_ts", right.schema[right_ts].dataType, True)]
    )
    lt = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(rrow_type).alias("_rrow"),
    )
    rt = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(lrow_type).alias("_lrow"),
        F.struct(
            *[F.col(c) for c in right_cols], F.col(right_ts).alias("_r_ts")
        ).alias("_rrow"),
    )
    merged = lt.unionByName(rt)
    base = Window.partitionBy("_k").orderBy("_ts", "_side")
    wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    picked = (
        merged.select(
            "_side",
            "_ts",
            "_lrow",
            F.last(F.col("_rrow"), ignorenulls=True).over(wb).alias("_b"),
            F.first(F.col("_rrow"), ignorenulls=True).over(wf).alias("_f"),
        )
        .filter(F.col("_side") == 1)
        .withColumn(
            "_db", F.abs(_n(F.col("_ts")) - _n(F.col("_b._r_ts")))
        )
        .withColumn(
            "_df", F.abs(_n(F.col("_ts")) - _n(F.col("_f._r_ts")))
        )
        .withColumn(
            "_rrow",
            F.when(F.col("_f").isNull(), F.col("_b"))
            .when(F.col("_b").isNull(), F.col("_f"))
            .when(F.col("_db") <= F.col("_df"), F.col("_b"))
            .otherwise(F.col("_f")),
        )
    )
    return picked.select(
        F.col("_lrow.*"),
        *[
            F.col(f"_rrow.{c}").alias(f"{c}_right" if c in left.columns else c)
            for c in right_cols
        ],
        F.col("_rrow._r_ts").alias(f"{right_ts}_right"),
    )
