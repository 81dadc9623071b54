"""Single-pass table profiling: per-column null count, distinct
count, min/max — the data-quality survey a pipeline runs before
trusting a new 100 TB drop (the engine-side generalization of the
reference's ad-hoc per-field guards, e.g. the customerId/amount
checks in src/parse.ts:86-95).

Scale design: ONE aggregation over ONE scan computes every column's
metrics simultaneously (each metric is an independent aggregate
expression, all map-side combinable), then the 1×(4·n_cols) row is
UNPIVOTed driver-side into tidy (column, metric) rows — the reshape
happens on a single row, so the fan-out costs nothing. The
alternative — one pass per column — scans the table n_cols times;
at 100 TB that is the difference between one job and thirty.

Distinct counts are EXACT by default (count_distinct pays an
n-distinct-agg Expand — fine locally, wrong at scale);
``distinct_mode="approx"`` swaps every per-column count to the HLL++
sketch (map-side combinable, fixed memory, NO Expand — the plan a
100 TB profile must have), and ``distinct_mode="checked"`` runs both
and emits a per-column tolerance boolean so the sketch's honesty is
verifiable query-side (the profile-wide generalization of
`agg_approx_distinct_ok`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_columns(
    df: DataFrame,
    cols: list[str],
    distinct_mode: str = "exact",
) -> DataFrame:
    """One row per profiled column: (column, n_nulls, n_distinct,
    min_value, max_value) with min/max rendered as strings so mixed
    column types share one output schema. ``distinct_mode``:

    - ``"exact"``  — count_distinct (small-data truth).
    - ``"approx"`` — approx_count_distinct at 2% relative
      standard deviation; the scale plan.
    - ``"checked"`` — BOTH: n_distinct stays exact and an extra
      ``approx_ok`` column asserts the sketch landed within
      5 percent of it (integer×100 math, no float compare).
    """
    if distinct_mode not in ("exact", "approx", "checked"):
        raise ValueError(f"unknown distinct_mode {distinct_mode!r}")
    aggs = []
    for c in cols:
        aggs += [
            F.count_if(F.col(c).isNull()).alias(f"{c}__nulls"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
        if distinct_mode == "exact":
            aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
        if distinct_mode in ("approx", "checked"):
            aggs.append(
                F.approx_count_distinct(F.col(c), 0.02).alias(f"{c}__approx")
            )
    wide = df.agg(*aggs)
    if distinct_mode == "checked":
        # The exact counts come from a SEPARATE aggregation, cross-joined
        # on 1×1 rows. Mixing count_distinct (which plans an Expand) and
        # the HLL++ TypedImperativeAggregate in ONE agg forces the whole
        # multi-phase distinct aggregation onto interpreted SortAggregate
        # passes over the expanded rows — measured ~26× slower at sf0.1
        # (101 s vs ~4 s) than two independent aggs, each of which keeps
        # its natural plan (sketch pass: Expand-free ObjectHashAggregate,
        # exactly the plan 'approx' mode ships at scale).
        exact = df.agg(
            *[F.count_distinct(F.col(c)).alias(f"{c}__distinct") for c in cols]
        )
        wide = wide.crossJoin(exact)
    per_col = []
    for c in cols:
        n_distinct = F.col(
            f"{c}__approx" if distinct_mode == "approx" else f"{c}__distinct"
        )
        fields = [
            F.lit(c).alias("column"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            n_distinct.alias("n_distinct"),
            F.col(f"{c}__min").alias("min_value"),
            F.col(f"{c}__max").alias("max_value"),
        ]
        if distinct_mode == "checked":
            fields.append(
                (
                    F.abs(F.col(f"{c}__approx") - F.col(f"{c}__distinct")) * 100
                    <= 5 * F.col(f"{c}__distinct")
                ).alias("approx_ok")
            )
        per_col.append(F.struct(*fields))
    return wide.select(F.explode(F.array(*per_col)).alias("p")).select("p.*")
