"""Exact percentile / median aggregation with a cross-engine-stable
decimal formulation.

The reference has no percentile surface; this is an analytics-user
staple. The hazard is cross-engine float
interpolation: Spark ``percentile`` and DuckDB ``quantile_cont`` both
interpolate linearly, but through different double arithmetic, so the
hashed result can drift in the last ulp. This operator removes the
float path entirely:

1. values are cast to DECIMAL(12,2) (the repo's money convention) and
   scaled to integer cents — exact;
2. the type-7 interpolation position ``pos = num*(n-1)/den`` is kept
   as integer quotient+remainder (``div``/``%``);
3. the interpolated value ``v1*(den-r) + v2*r`` stays in BIGINT;
4. the ONLY float op is the final division by ``den*100`` — a single
   IEEE double division of identical integers on both engines, which
   is bit-deterministic.

Scale: exact percentiles need rank-within-group, i.e. one shuffle on
the group key and a per-group sort — the right plan for grouped
percentiles (Spark sorts within partitions, no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_percentiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    ps: list[tuple[str, int, int]],
) -> DataFrame:
    """Per-group exact percentiles.

    ``ps`` is a list of (alias, numerator, denominator) fractions,
    e.g. ``[("p25", 1, 4), ("median", 1, 2)]``. Output: group cols,
    ``n_values``, and one DOUBLE column per alias.
    """
    mult = 100  # values rank as exact integer cents
    gw = Window.partitionBy(*group_cols)
    # NULLs must not occupy rank positions: Spark sorts NULLS FIRST,
    # DuckDB's row_number NULLS LAST, so a NULL shifts every quantile by
    # one position on exactly one engine. Percentiles are defined over
    # the non-null population.
    df = df.filter(F.col(value_col).isNotNull())
    ranked = (
        df.select(
            *group_cols,
            (F.col(value_col).cast("decimal(12,2)") * mult)
            .cast("long")
            .alias("_vc"),
        )
        .withColumn("_rn", F.row_number().over(gw.orderBy("_vc")))
        .withColumn("_n", F.count(F.lit(1)).over(gw))
    )
    aggs = [F.max("_n").alias("_n")]
    for alias, num, den in ps:
        q = F.expr(f"({num} * (_n - 1)) div {den}")
        aggs.append(
            F.max(F.when(F.col("_rn") == q + 1, F.col("_vc"))).alias(f"_lo_{alias}")
        )
        aggs.append(
            F.max(F.when(F.col("_rn") == q + 2, F.col("_vc"))).alias(f"_hi_{alias}")
        )
    agg = ranked.groupBy(*group_cols).agg(*aggs)
    outs = [F.col("_n").cast("long").alias("n_values")]
    for alias, num, den in ps:
        r = F.expr(f"({num} * (_n - 1)) % {den}")
        lo = F.col(f"_lo_{alias}")
        hi = F.coalesce(F.col(f"_hi_{alias}"), lo)
        scaled = lo * (F.lit(den) - r) + hi * r
        outs.append(
            (scaled.cast("double") / F.lit(float(den * mult))).alias(alias)
        )
    return agg.select(*group_cols, *outs)
