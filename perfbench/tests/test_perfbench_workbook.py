"""The EP1 generator round-trips through the program's own workbook
decode and Day Docket parser, and lays out its tampered days as asked."""

import datetime
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import ep1data


def _orders(n_days=3, per_day=5):
    keys = np.arange(n_days * per_day, dtype=np.int64)
    dates = np.datetime64("2001-03-01") + (keys // per_day).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": keys,
        "o_custkey": (keys * 37) % 200,
        "o_totalprice": 1000.0 + keys * 123.45,
        "o_orderdate": pa.array(dates.astype("datetime64[us]"), type=pa.timestamp("us")),
    })
    customers = pa.table({"c_custkey": np.arange(200, dtype=np.int64)})
    return orders, customers


def test_segments_place_one_tampered_day_per_block(tmp_path):
    orders, customers = _orders(n_days=20, per_day=2)
    _, _, days = ep1data.build(str(tmp_path), orders, customers, 7, [(2, 0), (16, 8), (2, 2)])
    flags = [d.tampered for d in days]
    assert not any(flags[:2])
    assert sum(flags[2:10]) == sum(flags[10:18]) == sum(flags[18:]) == 1
    assert [d.entity for d in days[:4]] == ["pw", "wb", "pw", "wb"]
    assert len({d.date for d in days}) == 20


def test_workbook_round_trips_through_decode_and_parse(spark, tmp_path):
    from xero_api_etl_utilities_spark.operators.daydocket import day_summary, parse_charges
    from xero_api_etl_utilities_spark.sources.excel_grid import (
        decode_workbook_grid,
        grid_from_rows,
    )

    orders, customers = _orders()
    path, customer_dim, days = ep1data.build(str(tmp_path), orders, customers, 3, [(3, 3)])
    rows, want = [], set()
    for day in days:
        (name,) = os.listdir(day.drop_dir)
        assert name == f"DD {day.date:%d}.xlsx"
        with open(os.path.join(day.drop_dir, name), "rb") as f:
            grid = decode_workbook_grid(f.read(), ep1data.SHEET)
        rows += [(name, r, *cells) for r, cells in grid]
        want |= {(day.date, c.amount, c.customer_id, f"{c.seq:04d}", c.notes) for c in day.charges}
    assert any(c.dashed for d in days for c in d.charges)
    assert any(c.amount < 0 for d in days for c in d.charges)

    grid = grid_from_rows(spark, rows)
    got = {
        (r["date"], r["amount"], r["customer_id"], r["seq_no"], r["notes"])
        for r in parse_charges(grid).collect()
    }
    assert got == want
    assert all(r["is_balanced"] for r in day_summary(grid).collect())

    table = pq.read_table(path).to_pylist()
    keys = {(r["date"], r["amount"], r["customer_id"], r["seq_no"]) for r in table}
    missing = {w[:4] for w in want} - keys
    assert len(missing) == 1  # the one tampered day lost one charge row
    (tampered,) = [d for d in days if d.tampered]
    assert next(iter(missing))[0] == tampered.date
    assert all(isinstance(r["amount"], Decimal) for r in table)
    assert customer_dim.num_rows == 200
    assert min(d.date for d in days) >= datetime.date(2001, 3, 1)
