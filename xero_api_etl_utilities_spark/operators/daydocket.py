"""The Day-Docket parser: grid → charges/payments + per-day summary.

Relational re-expression of the reference's imperative sheet walk
(/root/reference/src/parse.ts:61-146):

- B3 Excel-serial date, D15 till variance (src/parse.ts:64-65)
- rows ≥ 21, sections delimited by literal "Amount" marker rows:
  section 1 = account charges, section 2 = payments until the
  "Total Charges" terminator (src/parse.ts:81-132) — W1 running-sum
  segmentation, one window per file
- cell cleaning: first-dash strip, default customer "10528" for
  amount-only rows, seq lpad4, zero-amount and all-null row drops
  (src/parse.ts:85-106)
- "Total Debtors" row located by whole-sheet scan, total read from
  column G of that row (src/parse.ts:135-136)
- balance check: round2(sum(charges)+sum(payments)) == round2(total
  debtors) (src/parse.ts:139-143), surfaced as an `is_balanced` flag
  (the Q3 soft gate input)

Every step is a window/filter/aggregate over the grid DataFrame —
workbooks parse independently and in parallel (partition = src_file).
"""

from __future__ import annotations

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


def _day_header(grid: DataFrame) -> DataFrame:
    """Per-file header cells: B3 serial date, D15 till variance."""
    b3 = grid.filter(F.col("row_idx") == 3).select(
        "src_file",
        excel_serial_to_date(F.col("B").cast("double").cast("int")).alias("date"),
    )
    d15 = grid.filter(F.col("row_idx") == 15).select(
        "src_file", F.col("D").cast(MONEY).alias("till_variance")
    )
    return b3.join(d15, "src_file", "left")


def parse_charges(grid: DataFrame) -> DataFrame:
    """Charge + payment rows with section tags, cleaned per the
    reference's cell rules. Columns:
    (src_file, date, section, amount, customer_id, seq_no, notes)."""
    rows = grid.filter(F.col("row_idx") >= 21)
    seg = segment_by_marker(
        rows,
        is_marker=F.col("C") == "Amount",
        order_by=["row_idx"],
        partition_by=["src_file"],
    )
    w = Window.partitionBy("src_file").orderBy("row_idx")
    seg = seg.withColumn(
        "_terminated",
        F.sum(F.when(F.col("D") == "Total Charges", 1).otherwise(0)).over(w),
    )
    section = (
        F.when((F.col("section") == 1) & (F.col("C") != "Amount"), "charges")
        .when(
            (F.col("section") == 2)
            & (F.col("C") != "Amount")
            & (F.col("_terminated") == 0),
            "payments",
        )
    )
    tagged = seg.withColumn("section_tag", section).filter(
        F.col("section_tag").isNotNull()
    )
    # P7 all-null row drop; P6 zero-amount drop; field cleaning
    cleaned = (
        tagged.filter(
            ~(
                F.col("C").isNull()
                & F.col("D").isNull()
                & F.col("E").isNull()
                & F.col("F").isNull()
            )
        )
        .select(
            "src_file",
            F.col("section_tag").alias("section"),
            F.coalesce(F.col("C").cast("double"), F.lit(0)).cast(MONEY).alias("amount"),
            F.when(F.col("D").isNull(), F.lit(STORE_ACCOUNT))
            .otherwise(strip_dashes(F.col("D")))
            .alias("customer_id"),
            lpad4(F.coalesce(F.col("E"), F.lit("0"))).alias("seq_no"),
            F.col("F").alias("notes"),
        )
        .filter(F.abs(F.round(F.col("amount"), 2)) != 0)
    )
    header = _day_header(grid).select("src_file", "date")
    return cleaned.join(F.broadcast(header), "src_file", "left").select(
        "src_file", "date", "section", "amount", "customer_id", "seq_no", "notes"
    )


def total_debtors(grid: DataFrame) -> DataFrame:
    """The whole-sheet 'Total Debtors' scan → column G of that row."""
    any_match = None
    for c in ("A", "B", "C", "D", "E", "F", "G"):
        cond = F.col(c) == "Total Debtors"
        any_match = cond if any_match is None else (any_match | cond)
    return grid.filter(any_match).select(
        "src_file", F.col("G").cast("double").cast(MONEY).alias("total_debtors")
    )


def day_summary(grid: DataFrame) -> DataFrame:
    """Per-day roll-up + A6 balance flag (src/parse.ts:139-143)."""
    return summarize_charges(grid, parse_charges(grid))


def summarize_charges(grid: DataFrame, charges: DataFrame) -> DataFrame:
    """``day_summary`` over charges already parsed from ``grid`` — for a
    caller that needs the charges too and should not parse them twice."""
    sums = charges.groupBy("src_file").agg(
        F.sum(F.when(F.col("section") == "charges", F.col("amount"))).alias(
            "charges_total"
        ),
        F.sum(F.when(F.col("section") == "payments", F.col("amount"))).alias(
            "payments_total"
        ),
    )
    header = _day_header(grid)
    td = total_debtors(grid)
    zero = F.lit(0).cast(MONEY)
    return (
        header.join(sums, "src_file", "left")
        .join(td, "src_file", "left")
        .select(
            "src_file",
            "date",
            "till_variance",
            F.coalesce(F.col("charges_total"), zero).alias("charges_total"),
            F.coalesce(F.col("payments_total"), zero).alias("payments_total"),
            F.coalesce(F.col("total_debtors"), zero).alias("total_debtors"),
            (
                F.round(
                    F.coalesce(F.col("charges_total"), zero)
                    + F.coalesce(F.col("payments_total"), zero),
                    2,
                )
                == F.round(F.coalesce(F.col("total_debtors"), zero), 2)
            ).alias("is_balanced"),
        )
    )
