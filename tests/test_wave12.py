"""Semantics pins for the r12 wave's negated-funnel pattern (X168).

The oracle gate proves Spark == DuckDB on the generated events table;
these cases pin the CLASSIFICATION RULES themselves on crafted inputs
where the generated data may never exercise the edge: the exclusion
term, the 7-day window boundary, error-before-view innocence, and the
same-timestamp tie resolved by event_id on both sides of the compare.
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile

from xero_api_etl_utilities_spark.plans.event_ops import events_funnel_exclusion

_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)


def _t(day: int, sec: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, day, 0, 0, 0) + dt.timedelta(seconds=sec)


def _run(spark, rows):
    events = spark.createDataFrame(
        [(i, ts, uid, et, 0.0, "{}") for i, (uid, ts, et) in enumerate(rows)],
        _SCHEMA,
    )
    with tempfile.TemporaryDirectory() as d:
        events.write.parquet(os.path.join(d, "events.parquet"))
        return {
            r["user_id"]: (
                r["n_purchases"],
                r["n_converted"],
                r["first_conversion_ts"],
            )
            for r in events_funnel_exclusion(spark, d).collect()
        }


def test_exclusion_and_window_rules(spark):
    rows = [
        # user 1: error strictly between view and purchase → blocked
        (1, _t(1), "view"),
        (1, _t(2), "error"),
        (1, _t(3), "purchase"),
        # user 2: clean view → purchase within 7 days → converts
        (2, _t(1), "view"),
        (2, _t(3), "purchase"),
        # user 3: error BEFORE the view is innocent → converts
        (3, _t(1), "error"),
        (3, _t(2), "view"),
        (3, _t(4), "purchase"),
        # user 4: purchase 8 days after the view → outside the window
        (4, _t(1), "view"),
        (4, _t(9), "purchase"),
        # user 5: purchase with no view at all → counted, not converted
        (5, _t(1), "purchase"),
        # user 6: blocked first purchase, then a fresh view redeems the
        # second → first_conversion_ts is the SECOND purchase
        (6, _t(1), "view"),
        (6, _t(2), "error"),
        (6, _t(3), "purchase"),
        (6, _t(4), "view"),
        (6, _t(5), "purchase"),
    ]
    got = _run(spark, rows)
    assert got[1] == (1, 0, None)
    assert got[2] == (1, 1, _t(3))
    assert got[3] == (1, 1, _t(4))
    assert got[4] == (1, 0, None)
    assert got[5] == (1, 0, None)
    assert got[6] == (2, 1, _t(5))
    # exactly-7-days lands ON the boundary → still inside (<=)
    boundary = _run(
        spark, [(7, _t(1), "view"), (7, _t(8), "purchase")]
    )
    assert boundary[7] == (1, 1, _t(8))


def test_same_timestamp_tie_resolved_by_event_id(spark):
    # rows get event_id = list index: the error (id 0) sorts BEFORE the
    # view (id 1) at the identical timestamp, so it does not block
    innocent = _run(
        spark,
        [
            (1, _t(1), "error"),
            (1, _t(1), "view"),
            (1, _t(2), "purchase"),
        ],
    )
    assert innocent[1] == (1, 1, _t(2))
    # flipped ids: the error (id 1) sorts AFTER the view (id 0) at the
    # same timestamp → strictly between → blocks
    blocked = _run(
        spark,
        [
            (1, _t(1), "view"),
            (1, _t(1), "error"),
            (1, _t(2), "purchase"),
        ],
    )
    assert blocked[1] == (1, 0, None)


def test_users_without_purchases_are_absent(spark):
    got = _run(
        spark,
        [
            (1, _t(1), "view"),
            (2, _t(1), "view"),
            (2, _t(2), "purchase"),
        ],
    )
    assert set(got) == {2}
