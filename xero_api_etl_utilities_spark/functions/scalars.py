"""F1–F24 scalar functions as native Column expressions.

Each function cites the reference behavior it re-expresses
(file:line under /root/reference). Policy per SURVEY.md §2.11:
built-ins only — the one tempting UDF (due-date trading terms, F15)
is expressible with when/date_add/add_months/last_day/make_date.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

# Money type: the reference stores decimals and compares at 2dp
# (src/queries.ts:15, src/parse.ts:106). DecimalType keeps sums exact —
# no float drift across a 100 TB aggregation.
MONEY = DecimalType(12, 2)


def receipt_ref(terminal_id: Column, seq_no: Column) -> Column:
    """F1: `${terminalId}/${seqNo}` (src/DataObject.ts:28,
    src/queries.ts:129) — the invoice idempotency key."""
    return F.concat_ws("/", terminal_id, seq_no)


def lpad4(col: Column | str) -> Column:
    """F2: `` `0000${v}`.slice(-4) `` (src/parse.ts:94).

    NOT F.lpad: for inputs longer than 4 chars lpad keeps the FIRST 4,
    but the reference's slice(-4) keeps the LAST 4.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.concat(F.lit("0000"), c.cast("string")), -4, 4)


def strip_dashes(col: Column | str) -> Column:
    """F3: `/-/.test(v) ? v.replace(/-/,"")` (src/parse.ts:88-90).

    The reference regex has no /g flag, so only the FIRST dash is
    removed; honored via split(limit=2) + concat of the two halves.
    """
    c = F.col(col) if isinstance(col, str) else col
    parts = F.split(c, "-", 2)
    return F.when(c.contains("-"), F.concat(parts[0], parts[1])).otherwise(c)


def strip_non_digits(col: Column | str) -> Column:
    """F5: `.replace(/\\D/g, "")` (src/parse.ts:135)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "[^0-9]", "")


def iso_date(col: Column | str) -> Column:
    """F10: `.toISOString().slice(0,10)` (src/DataObject.ts:55,82)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd")


def local_ts(col: Column | str) -> Column:
    """F11+F13: `toLocaleString("en-AU", {hour12:false})` after the
    hand-rolled TZ shift (src/queries.ts:130-139, src/helpers.ts:262).
    With the session timezone pinned to Australia/Brisbane, a plain
    date_format is the whole computation."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "dd/MM/yyyy, HH:mm:ss")


def weekday_upper(col: Column | str) -> Column:
    """F12+F7: `toLocaleDateString("en-AU",{weekday:"short"})` upper-cased
    (src/queries.ts:144).

    NOT date_format('EEE'): that renders via the JVM default locale,
    which the driver's session doesn't pin. dayofweek-indexed literals
    are locale-independent.
    """
    c = F.col(col) if isinstance(col, str) else col
    names = F.array(*[F.lit(d) for d in ("SUN", "MON", "TUE", "WED", "THU", "FRI", "SAT")])
    return names[F.dayofweek(c) - 1]


def excel_serial_to_date(serial: Column | str) -> Column:
    """S3/F16: Excel serial day number → date.

    The reference decodes `new Date(Date.UTC(0, 0, serial - 1))`
    (src/parse.ts:64,84,119), i.e. days since the 1899-12-30 epoch.
    """
    c = F.col(serial) if isinstance(serial, str) else serial
    return F.date_add(F.lit("1899-12-30").cast("date"), c.cast("int"))


def due_date(bill_date: Column, terms_type: Column, terms_days: Column) -> Column:
    """F15: due date by trading terms (src/helpers.ts:228-259).

    - DAYSAFTERBILLDATE: bill date + N days (src/helpers.ts:233-236)
    - OFFOLLOWINGMONTH:  day N of the following month, with year
      rollover handled by make_date arithmetic (src/helpers.ts:237-243)
    - default/null:      end of the month AFTER next month start, i.e.
      `new Date(y, m+2, 0)` = last day of next month
      (src/helpers.ts:248-256 — the documented EOM-after-EOM default)
    """
    following = F.add_months(bill_date, 1)
    return (
        F.when(terms_type == "DAYSAFTERBILLDATE", F.date_add(bill_date, terms_days))
        .when(
            terms_type == "OFFOLLOWINGMONTH",
            F.make_date(F.year(following), F.month(following), terms_days),
        )
        .otherwise(F.last_day(F.add_months(bill_date, 1)))
    )
