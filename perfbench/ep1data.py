"""EP1 inputs: Day Docket workbooks plus the charge table and customer
dimension they are verified against, all derived from seeded orders.

Each entity-day is one calendar date of the generated orders.  Every
order of that date becomes one charge row in the day's ``DD dd.xlsx``
(sheet "A4 Summary", laid out as ``operators/daydocket.py`` reads it)
and one row of the charge table, so the day reconciles exactly and its
"Total Debtors" row balances.  Receipt references are
``T<yyyymmdd>/<seq>``: unique across every day of a run.

A tampered day keeps all its charges in the workbook but loses one row
from the charge table, so ``run_daily_import(strict=True)`` must raise
``QualityGateError`` for it.  The seed picks which day of each block is
tampered.
"""

from __future__ import annotations

import datetime
import io
import os
import zipfile
from dataclasses import dataclass, field
from decimal import Decimal
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EXCEL_EPOCH = datetime.date(1899, 12, 30)
SHEET = "A4 Summary"
TERMS = [("DAYSAFTERBILLDATE", 14), ("DAYSAFTERBILLDATE", 30), ("OFFOLLOWINGMONTH", 20), (None, None)]

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_WB_XML = f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="{_NS}"
 xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="{SHEET}" sheetId="1" r:id="rId1"/></sheets></workbook>"""
_RELS_XML = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
</Relationships>"""


def xlsx_bytes(rows: dict[int, dict[str, object]]) -> bytes:
    """A one-sheet workbook: strings go through the shared-string
    table, numbers are typeless numeric cells."""
    sst: list[str] = []
    row_xml = []
    for r in sorted(rows):
        cells = []
        for col, v in sorted(rows[r].items()):
            if isinstance(v, str):
                sst.append(v)
                cells.append(f'<c r="{col}{r}" t="s"><v>{len(sst) - 1}</v></c>')
            else:
                cells.append(f'<c r="{col}{r}"><v>{v}</v></c>')
        row_xml.append(f'<row r="{r}">{"".join(cells)}</row>')
    sheet = (
        f'<?xml version="1.0"?><worksheet xmlns="{_NS}">'
        f'<sheetData>{"".join(row_xml)}</sheetData></worksheet>'
    )
    sst_xml = (
        f'<?xml version="1.0"?><sst xmlns="{_NS}">'
        + "".join(f"<si><t>{escape(s)}</t></si>" for s in sst)
        + "</sst>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("xl/workbook.xml", _WB_XML)
        zf.writestr("xl/_rels/workbook.xml.rels", _RELS_XML)
        zf.writestr("xl/sharedStrings.xml", sst_xml)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue()


@dataclass(frozen=True)
class Charge:
    amount: Decimal
    customer_id: str
    seq: int
    notes: str | None
    dashed: bool  # customer id written as "12-345" in the workbook


@dataclass
class EntityDay:
    entity: str
    date: datetime.date
    drop_dir: str
    charges: list[Charge]
    tampered: bool
    expected_refs: set[str] = field(default_factory=set)

    @property
    def terminal_id(self) -> str:
        return f"T{self.date:%Y%m%d}"


def day_sheet(date: datetime.date, charges: list[Charge]) -> dict[int, dict[str, object]]:
    """Workbook cells for one day: B3 serial date, D15 till variance,
    charges from row 22 under an "Amount" marker, an empty payments
    section closed by "Total Charges", and a balanced "Total Debtors"."""
    rows: dict[int, dict[str, object]] = {
        3: {"B": (date - EXCEL_EPOCH).days},
        15: {"D": 0},
        21: {"C": "Amount"},
    }
    r = 22
    for c in charges:
        cid = f"{c.customer_id[:2]}-{c.customer_id[2:]}" if c.dashed else int(c.customer_id)
        cells: dict[str, object] = {"C": float(c.amount), "D": cid, "E": c.seq}
        if c.notes:
            cells["F"] = c.notes
        rows[r] = cells
        r += 1
    rows[r + 1] = {"C": "Amount"}
    rows[r + 2] = {"D": "Total Charges"}
    rows[r + 5] = {"F": "Total Debtors", "G": float(sum(c.amount for c in charges))}
    return rows


def build(
    out_dir: str,
    orders: pa.Table,
    customers: pa.Table,
    seed: int,
    segments: list[tuple[int, int]],
) -> tuple[str, pa.Table, list[EntityDay]]:
    """Write the charge table and one drop dir per entity-day.

    ``segments`` lays the days out in run order as (days, block): a
    segment with block 0 has no tampered day, otherwise exactly one day
    in every ``block`` consecutive days of it is tampered.  Returns
    (charge table path, customer dimension, entity-days in run order).
    Days alternate ``pw``/``wb``; their dates are distinct and drawn by
    ``seed``."""
    rng = np.random.default_rng(seed)
    odate = orders.column("o_orderdate").to_numpy().astype("datetime64[D]")
    okey = orders.column("o_orderkey").to_numpy()
    cust = orders.column("o_custkey").to_numpy()
    cents = np.round(orders.column("o_totalprice").to_numpy()).astype(np.int64)
    cents = np.where(okey % 9 == 0, -cents, cents)  # every ninth order a credit
    order = np.lexsort((okey, odate))
    odate, okey, cust, cents = odate[order], okey[order], cust[order], cents[order]
    starts = np.flatnonzero(np.r_[True, odate[1:] != odate[:-1]])
    seq = np.arange(len(odate)) - np.repeat(starts, np.diff(np.r_[starts, len(odate)])) + 1

    dates = np.unique(odate)
    picked = rng.choice(len(dates), size=sum(n for n, _ in segments), replace=False)
    tamper_at, start = set(), 0
    for n, block in segments:
        if block:
            for b0 in range(start, start + n, block):
                tamper_at.add(b0 + int(rng.integers(0, min(block, start + n - b0))))
        start += n
    dropped: set[int] = set()  # row positions removed from the charge table
    days = []
    for i, di in enumerate(picked.tolist()):
        d = dates[di]
        lo, hi = np.searchsorted(odate, [d, d + 1])
        charges = [
            Charge(
                amount=Decimal(int(cents[j])) / 100,
                customer_id=str(int(cust[j])),
                seq=int(seq[j]),
                notes=f"order {int(okey[j])}" if okey[j] % 5 == 0 else None,
                dashed=bool(okey[j] % 4 == 0 and cust[j] >= 100),
            )
            for j in range(lo, hi)
        ]
        day = EntityDay(
            entity="pw" if i % 2 == 0 else "wb",
            date=d.astype(datetime.date),
            drop_dir=os.path.join(out_dir, "drops", f"{i:03d}"),
            charges=charges,
            tampered=i in tamper_at,
        )
        day.expected_refs = {f"{day.terminal_id}/{c.seq:04d}" for c in charges}
        if day.tampered:
            dropped.add(lo + int(rng.integers(0, hi - lo)))
        os.makedirs(day.drop_dir, exist_ok=True)
        with open(os.path.join(day.drop_dir, f"DD {day.date:%d}.xlsx"), "wb") as f:
            f.write(xlsx_bytes(day_sheet(day.date, charges)))
        days.append(day)

    keep = np.ones(len(odate), dtype=bool)
    keep[list(dropped)] = False
    secs = (seq * 37).astype("timedelta64[s]")
    charge_table = pa.table({
        "date": pa.array(odate[keep], type=pa.date32()),
        "amount": pa.array(
            [Decimal(int(c)) / 100 for c in cents[keep]], type=pa.decimal128(12, 2)
        ),
        "customer_id": pa.array([str(int(c)) for c in cust[keep]]),
        "seq_no": pa.array([f"{int(s):04d}" for s in seq[keep]]),
        "terminal_id": pa.array(
            [f"T{str(d).replace('-', '')}" for d in odate[keep]]
        ),
        "tran_timestamp": pa.array(
            (odate[keep].astype("datetime64[s]") + 8 * 3600 + secs[keep]).astype("datetime64[us]"),
            type=pa.timestamp("us"),
        ),
    })
    path = os.path.join(out_dir, "charges.parquet")
    pq.write_table(charge_table, path)

    ck = customers.column("c_custkey").to_numpy()
    terms = [TERMS[int(k) % len(TERMS)] for k in ck]
    customer_dim = pa.table({
        "customer_id": pa.array([str(int(k)) for k in ck]),
        "xero_id": pa.array([f"xero-{int(k)}" for k in ck]),
        "terms_type": pa.array([t for t, _ in terms], type=pa.string()),
        "terms_days": pa.array([d for _, d in terms], type=pa.int32()),
    })
    return path, customer_dim, days
