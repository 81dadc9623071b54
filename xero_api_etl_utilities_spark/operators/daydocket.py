"""The Day-Docket parser: grid → charges/payments + per-day summary.

Relational re-expression of the reference's imperative sheet walk
(src/parse.ts:61-146), which reads each sheet once and then checks the
day.  Here one tagging pass (:func:`tag_day_rows`) gives every grid row
what that walk knows when it reaches the row:

- its file's B3 Excel-serial date and D15 till variance
  (src/parse.ts:64-65)
- its file's Total Debtors amount: column G of the row carrying the
  "Total Debtors" label, found by a whole-sheet scan
  (src/parse.ts:135-136)
- its section: rows ≥ 21 are split by literal "Amount" marker rows,
  section 1 = account charges, section 2 = payments until the
  "Total Charges" terminator (src/parse.ts:81-132) — W1 running-sum
  segmentation plus a running terminator count
- its cleaned charge fields: first-dash strip, default customer "10528"
  for amount-only rows, seq lpad4, zero-amount and all-null rows
  dropped (src/parse.ts:85-106)

All of these are windows over one ``src_file`` exchange: workbooks
parse independently and in parallel, and nothing is joined back.
:func:`charges_from_tagged` and :func:`summary_from_tagged` derive the
charges and the day summary — with the balance check
round2(sum(charges)+sum(payments)) == round2(total debtors)
(src/parse.ts:139-143) as the ``is_balanced`` flag, the Q3 soft gate
input — from the tagged rows, so a caller that caches them parses
each sheet once.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.scalars import (
    MONEY,
    excel_serial_to_date,
    lpad4,
    strip_dashes,
)
from xero_api_etl_utilities_spark.operators.segmentation import segment_by_marker

STORE_ACCOUNT = "10528"  # the store's own account (src/parse.ts:92)

CHARGE_COLUMNS = ("src_file", "date", "section", "amount", "customer_id", "seq_no", "notes")
SUMMARY_COLUMNS = (
    "src_file",
    "date",
    "till_variance",
    "charges_total",
    "payments_total",
    "total_debtors",
    "is_balanced",
)


def tag_day_rows(grid: DataFrame) -> DataFrame:
    """Every grid row with its file's header cells and its parse.

    Columns: the file's ``SUMMARY_COLUMNS`` (its day summary, repeated
    on each of its rows) and the row's ``CHARGE_COLUMNS``.  ``section``
    is "charges" or "payments" for a row that parses to a charge and
    null for every other row; the charge fields are only meaningful
    where it is set.

    A sheet with more than one "Total Debtors" label takes column G of
    the first labelled row in row order.  The reference reads one cell
    per sheet; which one it reads for a repeated label is not known
    here, so taking the first is this parser's choice.  It keeps one
    summary row per workbook.
    """
    zero = F.lit(0).cast(MONEY)
    rows = Window.partitionBy("src_file").orderBy("row_idx")
    sheet = rows.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    body = F.col("row_idx") >= 21
    seg = segment_by_marker(
        grid,
        is_marker=body & (F.col("C") == "Amount"),
        order_by=["row_idx"],
        partition_by=["src_file"],
    )
    is_debtors = reduce(
        lambda a, b: a | b, [F.col(c) == "Total Debtors" for c in "ABCDEFG"]
    )

    def cell(row_idx: int, col: str):
        return F.first(
            F.when(F.col("row_idx") == row_idx, F.col(col)), ignorenulls=True
        ).over(sheet)

    # the label row is kept as a struct so that a blank G there still
    # wins over a later label
    debtors_row = F.first(F.when(is_debtors, F.struct("G")), ignorenulls=True).over(sheet)
    terminated = F.sum(
        F.when(body & (F.col("D") == "Total Charges"), 1).otherwise(0)
    ).over(rows)
    tagged = seg.select(
        "*",
        excel_serial_to_date(cell(3, "B").cast("double").cast("int")).alias("date"),
        cell(15, "D").cast(MONEY).alias("till_variance"),
        F.coalesce(debtors_row["G"].cast("double").cast(MONEY), zero).alias(
            "total_debtors"
        ),
        terminated.alias("_terminated"),
    )
    # P7 all-null row drop
    kind = F.when(
        body
        & (F.col("C") != "Amount")
        & ~(
            F.col("C").isNull()
            & F.col("D").isNull()
            & F.col("E").isNull()
            & F.col("F").isNull()
        ),
        F.when(F.col("section") == 1, "charges").when(
            (F.col("section") == 2) & (F.col("_terminated") == 0), "payments"
        ),
    )
    # cast only section rows: header and marker cells are not numbers
    amount = F.when(
        kind.isNotNull(), F.coalesce(F.col("C").cast("double"), F.lit(0)).cast(MONEY)
    )
    section = F.when(F.abs(F.round(amount, 2)) != 0, kind)  # P6 zero-amount drop
    parsed = tagged.select(
        "src_file",
        "row_idx",
        "date",
        "till_variance",
        "total_debtors",
        section.alias("section"),
        amount.alias("amount"),
        F.when(F.col("D").isNull(), F.lit(STORE_ACCOUNT))
        .otherwise(strip_dashes(F.col("D")))
        .alias("customer_id"),
        lpad4(F.coalesce(F.col("E"), F.lit("0"))).alias("seq_no"),
        F.col("F").alias("notes"),
    )

    def total(section: str):
        return F.coalesce(
            F.sum(F.when(F.col("section") == section, F.col("amount"))).over(sheet),
            zero,
        )

    totals = parsed.withColumns(
        {"charges_total": total("charges"), "payments_total": total("payments")}
    )
    return totals.drop("row_idx").withColumn(
        "is_balanced",
        F.round(F.col("charges_total") + F.col("payments_total"), 2)
        == F.round(F.col("total_debtors"), 2),
    )


def charges_from_tagged(tagged: DataFrame) -> DataFrame:
    """The charge and payment rows of :func:`tag_day_rows` output."""
    return tagged.filter(F.col("section").isNotNull()).select(*CHARGE_COLUMNS)


def parse_charges(grid: DataFrame) -> DataFrame:
    """Charge + payment rows with section tags, cleaned per the
    reference's cell rules. Columns:
    (src_file, date, section, amount, customer_id, seq_no, notes)."""
    return charges_from_tagged(tag_day_rows(grid))


def summary_from_tagged(tagged: DataFrame) -> DataFrame:
    """Per-day roll-up + A6 balance flag (src/parse.ts:139-143) of
    :func:`tag_day_rows` output, one row per workbook.  Columns:
    (src_file, date, till_variance, charges_total, payments_total,
    total_debtors, is_balanced)."""
    return tagged.groupBy("src_file").agg(
        *[F.first(c).alias(c) for c in SUMMARY_COLUMNS[1:]]
    )


def day_summary(grid: DataFrame) -> DataFrame:
    """:func:`summary_from_tagged` straight from the grid."""
    return summary_from_tagged(tag_day_rows(grid))


def day_gates(tagged: DataFrame) -> DataFrame:
    """The day's two gate inputs as one row, for one action:
    ``n_charges`` — charge and payment rows parsed over every workbook
    (the non-empty gate) — and ``all_balanced``, the ``bool_and`` of the
    workbooks' ``is_balanced`` flags (the soft balance gate; null when
    there is no workbook)."""
    return tagged.agg(
        F.count("section").alias("n_charges"),
        F.bool_and("is_balanced").alias("all_balanced"),
    )
