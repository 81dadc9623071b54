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
(the S11 JSON audit-log semantics) rather than stringly-typed throws.
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


def observed_gate(df: DataFrame, name: str, **metric_exprs):
    """Zero-extra-pass gate metrics via ``DataFrame.observe``.

    The gates above each cost one extra (cheap) job; when the frame is
    about to be fully materialized anyway — a cache fill, a sink
    write — even that probe is wasted work at 100 TB. Spark's
    observation API attaches named aggregates that are computed DURING
    whatever action materializes the frame: the metrics ride the
    existing pass, touching every row exactly once, for free.

    Usage::

        gated, obs = observed_gate(df, "invoices",
                                   n=F.count(F.lit(1)),
                                   n_null=F.sum(F.isnull("ref").cast("int")))
        gated.write...                  # any full action
        obs.get["n"], obs.get["n_null"] # available after the action

    Returns ``(df_with_observation, Observation)``. ``Observation.get``
    blocks until an action has run — call it AFTER materializing, and
    raise QualityGateError at the call site if a metric violates its
    bound (the enforce step stays driver-side and one row, like every
    other gate here).
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *[expr.alias(k) for k, expr in metric_exprs.items()]), obs
