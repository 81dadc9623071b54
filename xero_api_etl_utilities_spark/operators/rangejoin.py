"""Range join (point-in-interval), bucketed for scale.

Spark has no native interval-join operator; the naive formulation
``points.join(intervals, (s <= p) & (p <= e))`` is a broadcast
nested-loop — O(P×I), a scale-killer. The standard fix (the same
trick behind Databricks' range-join hint) makes it an equi-join:

1. pick a bucket width W in the point's units;
2. each point lands in bucket ``p div W``;
3. each interval explodes to every bucket it overlaps
   (``s div W .. e div W`` — cost O(I × span/W));
4. equi-join on bucket, then apply the exact
   ``s <= p <= e`` residual filter.

Each matching (point, interval) pair meets in EXACTLY ONE bucket (the
point's), so no distinct pass is needed. Shuffle cost is
O(P + I×span/W) rows on integer keys — pick W near the typical
interval span so the explode factor stays ~2 and buckets stay small.
Skewed buckets (many intervals covering one hot bucket) are the same
problem as any skewed join key: AQE skew handling or salting applies
unchanged.

Columns are NUMERIC (caller converts dates/timestamps to days/epoch
units first) — keeps the operator engine-agnostic and the bucket math
exact integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join_bucketed(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket: int,
) -> DataFrame:
    """Inner-join each point row to every interval row with
    ``start <= point <= end``, without a nested-loop join. Output: all
    point columns + all interval columns."""
    if bucket <= 0:
        raise ValueError("bucket width must be a positive integer")
    p = points.withColumn("_bkt", F.expr(f"{point_col} div {bucket}"))
    i = intervals.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.expr(f"{start_col} div {bucket}"),
                F.expr(f"{end_col} div {bucket}"),
            )
        ),
    )
    joined = p.join(i, on=["_bkt"], how="inner").filter(
        (F.col(start_col) <= F.col(point_col))
        & (F.col(point_col) <= F.col(end_col))
    )
    return joined.drop("_bkt")


def interval_overlap_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_id: str,
    left_start: str,
    left_end: str,
    right_id: str,
    right_start: str,
    right_end: str,
    bucket: int,
) -> DataFrame:
    """Interval x interval OVERLAP SELF-join: every (l, r) pair with
    equal ``key``, ``[l_start, l_end] ∩ [r_start, r_end] != ∅`` and
    ``l_id < r_id``, so each unordered pair of one input comes out once
    — the second member of the range-join family (the first joins
    points to intervals).  Sessions x promotions, shift x outage,
    delivery-window collision analysis all reduce to this.  Output:
    all left columns + all right columns (``key`` once); the sides must
    name their other columns apart.

    Same bucketed equi-join trick, plus the CLAIM-BUCKET dedup rule:
    both sides explode to the buckets they span, so an overlapping
    pair meets in every bucket of the overlap range
    ``max(ls, rs) div W .. min(le, re) div W`` — instead of a
    distinct pass over the (potentially huge) pair output, the pair
    is emitted ONLY from the bucket containing the overlap's start
    (``greatest(ls, rs) div W``): exactly-once by construction, zero
    extra shuffle.

    The pair-ordering predicate ``l_id < r_id`` is applied WITH the
    residual overlap filter, so it prunes before anything else
    materializes."""
    if bucket <= 0:
        raise ValueError("bucket width must be a positive integer")
    l = left.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.expr(f"{left_start} div {bucket}"),
                F.expr(f"{left_end} div {bucket}"),
            )
        ),
    )
    r = right.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.expr(f"{right_start} div {bucket}"),
                F.expr(f"{right_end} div {bucket}"),
            )
        ),
    )
    cond = (
        (F.col(right_start) <= F.col(left_end))
        & (F.col(left_start) <= F.col(right_end))
        & (
            F.col("_bkt")
            == F.expr(f"greatest({left_start}, {right_start}) div {bucket}")
        )
        & (F.col(left_id) < F.col(right_id))
    )
    return l.join(r, on=["_bkt", key], how="inner").filter(cond).drop("_bkt")
