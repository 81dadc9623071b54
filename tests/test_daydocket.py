"""Golden-fixture tests for the Day-Docket grid parser (S2/S3/W1 and
the cell-cleaning rules), per SURVEY.md §5 / FIXTURES.md A7: a balanced
day, an unbalanced day, zero-amount rows, dashed customer ids,
defaulted customers, and marker/terminator handling."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest

from xero_api_etl_utilities_spark.operators.daydocket import (
    day_summary,
    parse_charges,
)
from xero_api_etl_utilities_spark.sources.excel_grid import grid_from_rows


def _cell_row(src, idx, **cells):
    return (
        src,
        idx,
        cells.get("A"),
        cells.get("B"),
        cells.get("C"),
        cells.get("D"),
        cells.get("E"),
        cells.get("F"),
        cells.get("G"),
    )


@pytest.fixture(scope="module")
def grid(spark):
    """One balanced workbook: header, two charges (one dashed id, one
    defaulted id), a zero-amount row, an all-null row, one payment,
    and the Total Debtors row. Serial 45292 = 2024-01-01."""
    rows = [
        _cell_row("DD 01.xls", 3, B="45292"),
        _cell_row("DD 01.xls", 15, D="1.25"),
        _cell_row("DD 01.xls", 21, C="Amount"),              # marker 1 (header)
        _cell_row("DD 01.xls", 22, C="100.50", D="10-643", E="12", F="note a"),
        _cell_row("DD 01.xls", 23, C="0.004"),               # rounds to 0 → dropped
        _cell_row("DD 01.xls", 24),                          # all-null → dropped
        _cell_row("DD 01.xls", 25, C="59.50"),               # defaulted customer
        _cell_row("DD 01.xls", 26, C="Amount"),              # marker 2 (payments)
        _cell_row("DD 01.xls", 27, C="-40.00", D="10643", E="7"),
        _cell_row("DD 01.xls", 28, D="Total Charges"),       # terminator
        _cell_row("DD 01.xls", 29, C="99.99", D="ignored"),  # after terminator
        _cell_row("DD 01.xls", 31, F="Total Debtors", G="120.00"),
    ]
    return grid_from_rows(spark, rows)


def test_parse_charges_sections_and_cleaning(grid):
    got = {
        (r["section"], r["customer_id"]): r
        for r in parse_charges(grid).collect()
    }
    assert set(got) == {
        ("charges", "10643"),
        ("charges", "10528"),
        ("payments", "10643"),
    }
    dashed = got[("charges", "10643")]
    assert dashed["amount"] == Decimal("100.50")
    assert dashed["seq_no"] == "0012"
    assert dashed["notes"] == "note a"
    assert dashed["date"] == datetime.date(2024, 1, 1)
    defaulted = got[("charges", "10528")]
    assert defaulted["seq_no"] == "0000"  # E missing → lpad('0')
    payment = got[("payments", "10643")]
    assert payment["amount"] == Decimal("-40.00")
    assert payment["seq_no"] == "0007"


def test_total_debtors_scan(grid):
    [row] = day_summary(grid).collect()
    assert row["total_debtors"] == Decimal("120.00")


def test_repeated_total_debtors_label_keeps_the_first_row(spark):
    """Two labelled rows still make one summary row per workbook: G of
    the first label in row order, whatever order the rows arrive in."""
    rows = [
        _cell_row("DD 04.xls", 40, A="Total Debtors", G="999.00"),
        _cell_row("DD 04.xls", 3, B="45295"),
        _cell_row("DD 04.xls", 21, C="Amount"),
        _cell_row("DD 04.xls", 22, C="10.00", D="5"),
        _cell_row("DD 04.xls", 26, C="Amount"),
        _cell_row("DD 04.xls", 28, D="Total Charges"),
        _cell_row("DD 04.xls", 31, E="Total Debtors", G="10.00"),
    ]
    [row] = day_summary(grid_from_rows(spark, rows)).collect()
    assert row["total_debtors"] == Decimal("10.00")
    assert row["is_balanced"] is True


def test_day_summary_balanced(grid):
    [row] = day_summary(grid).collect()
    assert row["date"] == datetime.date(2024, 1, 1)
    assert row["till_variance"] == Decimal("1.25")
    assert row["charges_total"] == Decimal("160.00")
    assert row["payments_total"] == Decimal("-40.00")
    assert row["is_balanced"] is True


def test_day_summary_unbalanced(spark):
    rows = [
        _cell_row("DD 02.xls", 3, B="45293"),
        _cell_row("DD 02.xls", 21, C="Amount"),
        _cell_row("DD 02.xls", 22, C="10.00", D="1"),
        _cell_row("DD 02.xls", 26, C="Amount"),
        _cell_row("DD 02.xls", 28, D="Total Charges"),
        _cell_row("DD 02.xls", 31, A="Total Debtors", G="999.00"),
    ]
    [row] = day_summary(grid_from_rows(spark, rows)).collect()
    assert row["is_balanced"] is False
    assert row["charges_total"] == Decimal("10.00")


def test_multiple_files_parse_independently(spark, grid):
    extra = [
        _cell_row("DD 03.xls", 3, B="45294"),
        _cell_row("DD 03.xls", 21, C="Amount"),
        _cell_row("DD 03.xls", 22, C="5.00", D="77"),
        _cell_row("DD 03.xls", 26, C="Amount"),
        _cell_row("DD 03.xls", 28, D="Total Charges"),
        _cell_row("DD 03.xls", 31, B="Total Debtors", G="5.00"),
    ]
    both = grid.unionByName(grid_from_rows(spark, extra))
    summaries = {r["src_file"]: r for r in day_summary(both).collect()}
    assert summaries["DD 03.xls"]["is_balanced"] is True
    assert summaries["DD 01.xls"]["is_balanced"] is True
    assert summaries["DD 03.xls"]["date"] == datetime.date(2024, 1, 3)
