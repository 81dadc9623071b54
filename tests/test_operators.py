"""Unit tests for reconcile, quality gates, segmentation, events, and
document assembly on tiny in-memory frames."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators import events as ev
from xero_api_etl_utilities_spark.operators.quality import (
    QualityGateError,
    enforce_empty,
    split_exactly_one,
)
from xero_api_etl_utilities_spark.operators.reconcile import reconcile
from xero_api_etl_utilities_spark.plans.documents_out import (
    assemble_documents,
    documents_to_json,
    validate_required,
)


def test_reconcile_split(spark):
    probe = spark.createDataFrame(
        [(1, Decimal("10.00"), "x"), (2, Decimal("20.00"), "y"), (3, Decimal("5.00"), "z")],
        "k int, amount decimal(12,2), note string",
    )
    build = spark.createDataFrame(
        [(1, Decimal("10.00"), "db1"), (2, Decimal("99.99"), "db2")],
        "k int, amount decimal(12,2), extra string",
    )
    matched, unverified = reconcile(probe, build, on=["k", "amount"])
    m = matched.collect()
    assert len(m) == 1 and m[0]["k"] == 1 and m[0]["extra"] == "db1" and m[0]["note"] == "x"
    assert sorted(r["k"] for r in unverified.collect()) == [2, 3]


def test_reconcile_round2_probe_key(spark):
    # the probe side rounds to 2dp (src/queries.ts:15); build side as stored
    probe = spark.createDataFrame([(1, 10.004)], "k int, amt double").select(
        "k", F.round(F.col("amt").cast("decimal(12,3)"), 2).alias("amount")
    )
    build = spark.createDataFrame(
        [(1, Decimal("10.00"))], "k int, amount decimal(12,2)"
    )
    matched, unverified = reconcile(probe, build, on=["k", "amount"])
    assert matched.count() == 1 and unverified.count() == 0


def test_quality_gates(spark):
    empty = spark.createDataFrame([], "a int")
    nonempty = spark.createDataFrame([(1,)], "a int")
    with pytest.raises(QualityGateError):
        enforce_empty(nonempty)
    enforce_empty(empty)


def test_split_exactly_one(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "c")], "k int, v string"
    )
    unique, violations = split_exactly_one(df, ["k"])
    assert [r["v"] for r in unique.collect()] == ["a"]
    assert sorted(r["v"] for r in violations.collect()) == ["b", "c"]


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )


def test_sessionize_gap(spark):
    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, t0, 1, "view"),
        (2, t0 + datetime.timedelta(minutes=10), 1, "click"),
        (3, t0 + datetime.timedelta(minutes=50), 1, "view"),   # 40min gap → new session
        (4, t0, 2, "view"),
    ]
    got = {r["event_id"]: r["session_seq"] for r in ev.sessionize(_events(spark, rows)).collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_dedup_keep_latest(spark):
    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, t0, 1, "view"),
        (2, t0 + datetime.timedelta(seconds=5), 1, "view"),
        (3, t0, 1, "click"),
    ]
    got = sorted(
        r["event_id"]
        for r in ev.dedup_keep_latest(_events(spark, rows), ["user_id", "event_type"]).collect()
    )
    assert got == [2, 3]


@pytest.fixture()
def charge_rows(spark):
    return spark.createDataFrame(
        [
            (
                datetime.date(2024, 1, 1), Decimal("100.00"), "10643", "0012",
                "note", "T1", datetime.datetime(2024, 1, 1, 9, 30), "xero-abc",
                "DAYSAFTERBILLDATE", 14,
            ),
            (
                datetime.date(2024, 1, 1), Decimal("-25.00"), "45678", "0013",
                None, "T1", datetime.datetime(2024, 1, 1, 9, 31), "xero-def",
                None, None,
            ),
            (None, Decimal("5.00"), "10643", "0014", None, "T1", None, "xero-abc", None, None),
        ],
        "date date, amount decimal(12,2), customer_id string, seq_no string,"
        " notes string, terminal_id string, tran_timestamp timestamp,"
        " xero_id string, terms_type string, terms_days int",
    )


def test_validate_and_assemble_documents(charge_rows):
    ok, bad = validate_required(charge_rows)
    assert ok.count() == 2 and bad.count() == 1  # P10 side-output
    docs = {r["reference"]: r for r in assemble_documents(ok).collect()}
    inv = docs["T1/0012"]
    assert inv["doc_type"] == "ACCREC"
    assert inv["doc_date"] == "2024-01-01"
    assert inv["doc_due_date"] == "2024-01-15"  # DAYSAFTERBILLDATE +14
    assert inv["line_items"][0]["account_code"] == "41010"
    assert inv["line_items"][0]["unit_amount"] == Decimal("100.00")
    cr = docs["T1/0013"]
    assert cr["doc_type"] == "ACCRECCREDIT"  # P9 sign split
    assert cr["doc_due_date"] == "2024-02-29"  # EOM-after default, leap year
    assert cr["line_items"][0]["account_code"] == "42010"  # P12 routing
    assert cr["line_items"][0]["unit_amount"] == Decimal("25.00")  # F17 abs


def test_documents_to_json(charge_rows):
    ok, _ = validate_required(charge_rows)
    payloads = documents_to_json(assemble_documents(ok)).collect()
    import json

    parsed = json.loads(payloads[0]["payload"])
    assert parsed["status"] == "SUBMITTED"
    assert isinstance(parsed["line_items"], list)


def test_salted_join_equivalence(spark):
    from xero_api_etl_utilities_spark.operators.skew import salted_inner_join

    left = spark.createDataFrame(
        [(k, i) for i in range(200) for k in ("hot", f"cold{i % 5}")],
        "k string, payload int",
    )
    right = spark.createDataFrame(
        [("hot", "H"), ("cold0", "C0"), ("cold3", "C3")], "k string, attr string"
    )
    plain = {(r["k"], r["payload"], r["attr"]) for r in left.join(right, "k").collect()}
    salted = {
        (r["k"], r["payload"], r["attr"])
        for r in salted_inner_join(left, right, "k").collect()
    }
    assert salted == plain and len(plain) == 200 + 40 + 40


def test_exact_percentiles_interpolation(spark):
    """Pin the type-7 interpolation math on a hand-checkable set:
    values 10,20,30,40 → p25 = 17.5, median = 25, p75 = 32.5; a
    single-value group degenerates to that value for every p."""
    from xero_api_etl_utilities_spark.operators.percentiles import exact_percentiles

    df = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("a", 30.0), ("a", 40.0), ("b", 7.25)],
        "g string, v double",
    )
    got = {
        r["g"]: r
        for r in exact_percentiles(
            df, "v", ["g"], [("p25", 1, 4), ("median", 1, 2), ("p75", 3, 4)]
        ).collect()
    }
    assert got["a"]["n_values"] == 4
    assert got["a"]["p25"] == 17.5
    assert got["a"]["median"] == 25.0
    assert got["a"]["p75"] == 32.5
    assert got["b"]["p25"] == 7.25 and got["b"]["median"] == 7.25

    # NULLs are not part of the population: Spark ranks NULLS FIRST but
    # DuckDB's row_number puts them LAST, so counting them would skew
    # every quantile on exactly one engine.
    withnull = spark.createDataFrame(
        [("a", None), ("a", 10.0), ("a", 20.0), ("a", 30.0), ("a", 40.0)],
        "g string, v double",
    )
    gotn = exact_percentiles(withnull, "v", ["g"], [("median", 1, 2)]).collect()
    assert gotn[0]["n_values"] == 4 and gotn[0]["median"] == 25.0


def test_range_join_bucketed_semantics(spark):
    """Boundary inclusivity, no duplicate pairs and bucket-width
    invariance."""
    import pytest

    from xero_api_etl_utilities_spark.operators.rangejoin import range_join_bucketed

    points = spark.createDataFrame([(4,), (5,), (10,), (11,), (12,)], "p long")
    intervals = spark.createDataFrame(
        [(5, 10, "a"), (0, 4, "b"), (11, 11, "c")],
        "s long, e long, tag string",
    )

    def pairs(bucket):
        rows = range_join_bucketed(points, intervals, "p", "s", "e", bucket).collect()
        got = [(r["p"], r["tag"]) for r in rows]
        assert len(got) == len(set(got))
        return set(got)

    # both ends inclusive, a one-point interval matches its point, 12 none
    expect = {(4, "b"), (5, "a"), (10, "a"), (11, "c")}
    assert pairs(3) == expect
    assert pairs(1) == expect   # width-invariant
    assert pairs(100) == expect
    with pytest.raises(ValueError, match="positive"):
        range_join_bucketed(points, intervals, "p", "s", "e", 0)


def test_interval_overlap_join_claim_bucket_exactly_once(spark):
    """The claim-bucket rule must emit every
    overlapping pair EXACTLY once at any bucket width — pinned
    against a naive quadratic python recompute on random intervals
    (incl. touching endpoints, containment, and zero-length
    intervals)."""
    import random

    import pytest

    from xero_api_etl_utilities_spark.operators.rangejoin import (
        interval_overlap_join_bucketed,
    )

    rng = random.Random(13)
    rows = []
    for i in range(120):
        s = rng.randrange(0, 300)
        rows.append((rng.choice(["x", "y"]), i, s, s + rng.randrange(0, 40)))
    df = spark.createDataFrame(rows, "k string, rid long, s long, e long")

    expected = set()
    for ka, ra, sa, ea in rows:
        for kb, rb, sb, eb in rows:
            if ka == kb and ra < rb and sb <= ea and sa <= eb:
                expected.add((ka, ra, rb))

    a = df.select("k", F.col("rid").alias("ra"), F.col("s").alias("sa"), F.col("e").alias("ea"))
    b = df.select("k", F.col("rid").alias("rb"), F.col("s").alias("sb"), F.col("e").alias("eb"))
    for bucket in (1, 7, 32, 1000):
        got = [
            (r["k"], r["ra"], r["rb"])
            for r in interval_overlap_join_bucketed(
                a, b, "k", "ra", "sa", "ea", "rb", "sb", "eb", bucket
            ).collect()
        ]
        assert len(got) == len(set(got)), f"duplicates at bucket={bucket}"
        assert set(got) == expected, f"mismatch at bucket={bucket}"
    with pytest.raises(ValueError, match="positive"):
        interval_overlap_join_bucketed(a, b, "k", "ra", "sa", "ea", "rb", "sb", "eb", 0)


def test_snapshot_diff_null_keys(spark):
    """The full-outer join matches NULL keys across sides (eqNullSafe),
    so presence must come from literal markers, not key nullness: a
    genuinely-NULL key present and unchanged in both snapshots emits
    nothing; changed/added/removed NULL-key rows classify correctly."""
    from xero_api_etl_utilities_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(None, 1), ("a", 2), ("gone", 3)], "k string, v long"
    )
    new = spark.createDataFrame(
        [(None, 1), ("a", 20), ("fresh", 4)], "k string, v long"
    )
    out = {
        (r["k"], r["change_type"]): r["new_payload"]
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert set(out) == {("a", "changed"), ("gone", "removed"), ("fresh", "added")}

    # NULL key changed -> 'changed', never 'added'
    new2 = spark.createDataFrame([(None, 99)], "k string, v long")
    old2 = spark.createDataFrame([(None, 1)], "k string, v long")
    [row] = snapshot_diff(old2, new2, ["k"]).collect()
    assert row["change_type"] == "changed" and row["new_payload"]["v"] == 99


def test_profile_columns_modes(spark):
    """exact/approx/checked agree on nulls/min/max; approx_ok holds on
    small data; approx mode emits the sketch estimate as n_distinct."""
    from xero_api_etl_utilities_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (2, None), (3, "y")], "k long, s string"
    )

    def rows(mode):
        return {
            r["column"]: r.asDict()
            for r in profile_columns(df, ["k", "s"], distinct_mode=mode).collect()
        }

    exact = rows("exact")
    assert exact["k"]["n_distinct"] == 3 and exact["s"]["n_distinct"] == 2
    assert exact["s"]["n_nulls"] == 1
    assert (exact["k"]["min_value"], exact["k"]["max_value"]) == ("1", "3")

    checked = rows("checked")
    for c in ("k", "s"):
        assert checked[c]["approx_ok"] is True
        assert checked[c]["n_distinct"] == exact[c]["n_distinct"]

    approx = rows("approx")  # tiny cardinalities: HLL++ is exact here
    assert approx["k"]["n_distinct"] == 3 and "approx_ok" not in approx["k"]

    with pytest.raises(ValueError, match="distinct_mode"):
        profile_columns(df, ["k"], distinct_mode="bogus")


def test_asof_nearest_matches_bruteforce(spark):
    """Nearest in either direction, ties -> backward,
    pinned against a quadratic python recompute on numeric axes
    (incl. equidistant ties, no-right-rows keys, and equal-ts left/
    right rows)."""
    from xero_api_etl_utilities_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 15), ("a", 3, 20), ("b", 4, 7), ("c", 5, 1)],
        "k string, lid long, lts long",
    )
    right = spark.createDataFrame(
        [("a", 101, 8), ("a", 102, 12), ("a", 103, 20), ("b", 104, 100)],
        "k string, rid long, rts long",
    )
    got = {
        r["lid"]: r["rid"]
        for r in asof_join_nearest(left, right, "k", "lts", "rts").collect()
    }
    # lid=1 (ts10): candidates 8 (d2, back) / 12 (d2, fwd) -> tie -> 8
    # lid=2 (ts15): 12 (d3) vs 20 (d5) -> 12
    # lid=3 (ts20): exact match 20 -> 103
    # lid=4 (ts7): only forward 100 -> 104
    # lid=5: no right rows -> null
    assert got == {1: 101, 2: 102, 3: 103, 4: 104, 5: None}


def test_interval_overlap_join_hot_bucket_exactly_once(spark):
    """Adversarial skew for the claim-bucket rule: 500 IDENTICAL
    intervals (every pair overlapping, all landing in the same
    buckets) — the output is quadratic by SEMANTICS (C(500,2) pairs),
    but each pair must still appear EXACTLY once (the claim-bucket
    dedup cannot double-emit under bucket collisions) and the
    bucketed join must complete without a distinct pass."""
    from xero_api_etl_utilities_spark.operators.rangejoin import (
        interval_overlap_join_bucketed,
    )

    n = 500
    df = spark.createDataFrame(
        [("k", i, 100, 140) for i in range(n)], "k string, rid long, s long, e long"
    )
    a = df.select("k", F.col("rid").alias("ra"), F.col("s").alias("sa"), F.col("e").alias("ea"))
    b = df.select("k", F.col("rid").alias("rb"), F.col("s").alias("sb"), F.col("e").alias("eb"))
    out = interval_overlap_join_bucketed(
        a, b, "k", "ra", "sa", "ea", "rb", "sb", "eb", bucket=16
    ).select("ra", "rb")
    rows = out.collect()
    assert len(rows) == n * (n - 1) // 2
    assert len({(r["ra"], r["rb"]) for r in rows}) == len(rows)
