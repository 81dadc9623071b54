"""Scalar column-expression pack (SURVEY.md §2.8, F1–F24).

Everything here is a built-in-composition Column expression — zero UDFs —
so every call stays inside whole-stage codegen on the JVM.
"""

from xero_api_etl_utilities_spark.functions.scalars import (
    MONEY,
    due_date,
    excel_serial_to_date,
    iso_date,
    local_ts,
    lpad4,
    receipt_ref,
    strip_dashes,
    strip_non_digits,
    weekday_upper,
)

__all__ = [
    "MONEY",
    "due_date",
    "excel_serial_to_date",
    "iso_date",
    "local_ts",
    "lpad4",
    "receipt_ref",
    "strip_dashes",
    "strip_non_digits",
    "weekday_upper",
]
