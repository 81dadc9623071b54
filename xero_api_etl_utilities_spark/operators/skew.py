"""Skew-resistant join: explicit key salting.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime, but a join against a dimension-ish right side with a handful
of degenerate hot keys (the classic null-key/default-key hotspots —
e.g. the "10528" store-account that dominates the reference's charge
table) benefits from deterministic salting: the left side's hot keys
are sharded across 8 salt values, the right side replicated 8 ways, so
one hot key spreads over 8 tasks instead of pinning one.

Result is row-identical to a plain inner equi-join (unit-tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_inner_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
) -> DataFrame:
    """Inner equi-join on ``on`` with 8-way sharding.

    left  gets a uniform pseudo-random salt in [0, 8) derived from
          its other columns' hash (deterministic, no rand());
    right is replicated once per salt value via explode.

    Column set of the result == left ∪ right (minus the duplicate key).
    """
    left_cols = [c for c in left.columns if c != on]
    salt_expr = (
        F.pmod(F.xxhash64(*[F.col(c) for c in left_cols]), F.lit(8))
        if left_cols
        else F.pmod(F.monotonically_increasing_id(), F.lit(8))
    )
    l_salted = left.withColumn("_salt", salt_expr.cast("int"))
    r_replicated = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(7)))
    )
    return l_salted.join(r_replicated, on=[on, "_salt"], how="inner").drop("_salt")
