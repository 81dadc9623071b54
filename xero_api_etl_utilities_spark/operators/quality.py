"""Q1–Q4 — data-quality gates as first-class operators.

The reference audits itself at runtime instead of being tested:
- Q1 abort on empty tenant set (/root/reference/src/apiFunctions.ts:38-47)
- Q2 abort when a day's till totals are missing (src/queries.ts:57,
  Prisma findUniqueOrThrow)
- Q3 hard abort on any unverified charge, soft warn on unbalanced days
  (src/helpers.ts:188-214)
- Q4 exactly-one invoice match per attachment date; violations are
  logged and skipped (src/apiFunctions.ts:148-170)

Engine form: each gate is a pure DataFrame split — (passed, violations)
— plus a driver-side ``enforce`` that raises after ONE aggregate
action. Violations are a side-output DataFrame the caller can persist
rather than stringly-typed throws.
EP1 answers Q1 and the Q3 soft warn together in one action
(``operators/daydocket.day_gates``, read by ``plans/pipeline.py``).

Scale note: every gate is a single aggregate or windowed count — no
collect of row data to the driver; ``enforce`` pulls back one number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class QualityGateError(RuntimeError):
    """Raised when a hard gate fails (the reference's `throw` paths)."""


def split_exactly_one(df: DataFrame, keys: list[str]) -> tuple[DataFrame, DataFrame]:
    """Q4: partition rows into (unique, violations) by key cardinality.

    unique     : rows whose key occurs exactly once
    violations : rows whose key occurs 0-or-many times (>1 here; the
                 0-match case falls out of the J5 join producing no row)

    Implemented as a windowed count — one shuffle on the key, no
    self-join, no driver collection.
    """
    w = Window.partitionBy(*keys)
    counted = df.withColumn("_key_count", F.count(F.lit(1)).over(w))
    unique = counted.filter(F.col("_key_count") == 1).drop("_key_count")
    violations = counted.filter(F.col("_key_count") != 1).drop("_key_count")
    return unique, violations


def enforce_empty(df: DataFrame) -> None:
    """Q3 hard gate: raise if the unverified charges are non-empty
    (the abort of src/helpers.ts:212-214)."""
    n = df.limit(1).count()
    if n > 0:
        raise QualityGateError("quality gate: unverified charges is non-empty")

