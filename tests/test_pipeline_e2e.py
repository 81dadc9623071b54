"""EP1 end-to-end: workbook grid → parse → verify → gates → documents
→ idempotent delivery, plus the as-of join operator."""

from __future__ import annotations

import datetime
import os
from decimal import Decimal

import pytest

from xero_api_etl_utilities_spark.operators.asof import asof_join_backward
from xero_api_etl_utilities_spark.operators.quality import QualityGateError
from xero_api_etl_utilities_spark.plans.pipeline import (
    EntityConfig,
    run_daily_import,
)
from xero_api_etl_utilities_spark.sources.excel_grid import grid_from_rows
from xero_api_etl_utilities_spark.sources.rest import HttpJsonTransport, post_documents


def _cell_row(src, idx, **cells):
    return (
        src, idx,
        cells.get("A"), cells.get("B"), cells.get("C"), cells.get("D"),
        cells.get("E"), cells.get("F"), cells.get("G"),
    )


@pytest.fixture()
def fixtures(spark):
    grid = grid_from_rows(
        spark,
        [
            _cell_row("DD 01.xls", 3, B="45292"),  # 2024-01-01
            _cell_row("DD 01.xls", 21, C="Amount"),
            _cell_row("DD 01.xls", 22, C="100.50", D="10643", E="12"),
            _cell_row("DD 01.xls", 23, C="59.50", D="45678", E="13"),
            _cell_row("DD 01.xls", 26, C="Amount"),
            _cell_row("DD 01.xls", 27, C="-40.00", D="10643", E="7"),
            _cell_row("DD 01.xls", 28, D="Total Charges"),
            _cell_row("DD 01.xls", 31, F="Total Debtors", G="120.00"),
        ],
    )
    d = datetime.date(2024, 1, 1)
    t = datetime.datetime(2024, 1, 1, 9, 30)
    charge_table = spark.createDataFrame(
        [
            (d, Decimal("100.50"), "10643", "0012", "T1", t),
            (d, Decimal("59.50"), "45678", "0013", "T1", t),
            (d, Decimal("-40.00"), "10643", "0007", "T2", t),
        ],
        "date date, amount decimal(12,2), customer_id string, seq_no string,"
        " terminal_id string, tran_timestamp timestamp",
    )
    customer_dim = spark.createDataFrame(
        [
            ("10643", "xero-10643", "DAYSAFTERBILLDATE", 14),
            ("45678", "xero-45678", None, None),
        ],
        "customer_id string, xero_id string, terms_type string, terms_days int",
    )
    return grid, charge_table, customer_dim


def test_daily_import_end_to_end(spark, fixtures):
    from perfbench.sink import SinkServer

    grid, charge_table, customer_dim = fixtures
    with SinkServer() as server:
        url = server.url
        cfg = EntityConfig(entity="pw", transport_root=url)
        out = run_daily_import(grid, charge_table, customer_dim, cfg)

        assert out["unverified"].count() == 0
        assert out["matched"].count() == 3
        assert out["all_balanced"] is True

        docs = {r["reference"]: r for r in out["documents"].collect()}
        assert docs["T1/0012"]["doc_type"] == "ACCREC"
        assert docs["T1/0012"]["contact_id"] == "xero-10643"
        assert docs["T1/0012"]["doc_due_date"] == "2024-01-15"
        assert docs["T2/0007"]["doc_type"] == "ACCRECCREDIT"  # negative amount
        assert docs["T1/0013"]["line_items"][0]["account_code"] == "42010"  # 45678 routing

        # delivery is idempotent across retries (S8 discipline): a
        # second delivery comes back all SKIPPED
        for key in ("deliver", "redeliver"):
            server.begin(key)
            post_documents(out["payloads"], lambda: HttpJsonTransport(url))
        first, again = server.round_statuses("deliver"), server.round_statuses("redeliver")
    out["matched"].unpersist()
    refs = ["T1/0012", "T1/0013", "T2/0007"]
    assert sorted(first.get("OK", [])) == refs and not first.get("SKIPPED")
    assert sorted(again.get("SKIPPED", [])) == refs and not again.get("OK")


def test_daily_import_unverified_aborts(spark, fixtures):
    grid, charge_table, customer_dim = fixtures
    # remove one DB row → that workbook charge becomes unverified
    broken = charge_table.filter("seq_no <> '0012'")
    cfg = EntityConfig(entity="wb", transport_root="/tmp/unused")
    before = _persisted_rdds(spark)
    with pytest.raises(QualityGateError, match="unverified"):
        run_daily_import(grid, broken, customer_dim, cfg)
    assert _persisted_rdds(spark) == before  # no cache outlives the abort
    # non-strict mode: same pipeline surfaces the rows instead
    out = run_daily_import(grid, broken, customer_dim, cfg, strict=False)
    assert out["unverified"].count() == 1
    assert out["matched"].count() == 2
    out["matched"].unpersist()


_FIRST_OWN_RDD: list[int] = []


@pytest.fixture(scope="module", autouse=True)
def _first_own_rdd(spark):
    """RDD ids only grow: every RDD this module creates has an id at
    least this one."""
    _FIRST_OWN_RDD[:] = [spark.sparkContext.emptyRDD().id()]


def _persisted_rdds(spark) -> int:
    """Persisted RDDs created by this module.  Earlier modules leave
    ``localCheckpoint`` RDDs unreachable, and Spark's ContextCleaner
    unpersists those whenever the JVM collects them, which can fall
    between a test's before and after counts."""
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet()
    return sum(1 for i in ids if i >= _FIRST_OWN_RDD[0])


def test_daily_import_rejects_a_day_with_no_charges(spark, fixtures):
    """A sheet whose sections hold no charge row fails the non-empty
    gate, and the tagged-rows cache is released with the raise."""
    _, charge_table, customer_dim = fixtures
    empty = grid_from_rows(
        spark,
        [
            _cell_row("DD 05.xls", 3, B="45296"),
            _cell_row("DD 05.xls", 21, C="Amount"),
            _cell_row("DD 05.xls", 22, C="0.00", D="10643"),  # zero amount: dropped
            _cell_row("DD 05.xls", 26, C="Amount"),
            _cell_row("DD 05.xls", 28, D="Total Charges"),
            _cell_row("DD 05.xls", 31, F="Total Debtors", G="0.00"),
        ],
    )
    cfg = EntityConfig(entity="pw", transport_root="/tmp/unused")
    before = _persisted_rdds(spark)
    with pytest.raises(QualityGateError, match="parsed charges"):
        run_daily_import(empty, charge_table, customer_dim, cfg)
    assert _persisted_rdds(spark) == before


def test_daily_import_flags_an_unbalanced_day(spark, fixtures, tmp_path):
    """The balance gate is soft: every charge verifies, so the strict
    run completes and reports ``all_balanced`` False."""
    grid, charge_table, customer_dim = fixtures
    off = grid.filter("row_idx <> 31").unionByName(
        grid_from_rows(spark, [_cell_row("DD 01.xls", 31, F="Total Debtors", G="999.00")])
    )
    cfg = EntityConfig(entity="pw", transport_root=str(tmp_path / "xero"))
    out = run_daily_import(off, charge_table, customer_dim, cfg, strict=True)
    assert out["all_balanced"] is False
    assert out["matched"].count() == 3
    [day] = out["summary"].collect()
    assert day["is_balanced"] is False
    assert day["total_debtors"] == Decimal("999.00")
    out["matched"].unpersist()


@pytest.mark.parametrize("strict", [True, False])
def test_daily_import_decodes_once(spark, fixtures, tmp_path, strict):
    """Every gate and the reconcile join read one decode of the
    workbook, and the documents read the reconcile cache, not the
    workbook.  The grid comes from a one-row source through a
    ``mapInPandas`` decoder that logs each call, like
    ``read_workbook_grids`` over a one-workbook drop dir."""
    grid_rows, charge_table, customer_dim = fixtures
    rows = grid_rows.toPandas()
    log = str(tmp_path / "decodes.log")

    def decode(batches):
        for pdf in batches:
            if len(pdf):
                with open(log, "a") as f:
                    f.write("decode\n")
                yield rows

    grid = spark.range(1, numPartitions=1).mapInPandas(decode, schema=grid_rows.schema)

    def decodes() -> int:
        if not os.path.exists(log):
            return 0
        with open(log) as f:
            return len(f.readlines())

    cfg = EntityConfig(entity="pw", transport_root=str(tmp_path / "xero"))
    before = _persisted_rdds(spark)
    out = run_daily_import(grid, charge_table, customer_dim, cfg, strict=strict)
    assert decodes() == 1
    assert len(out["payloads"].collect()) == 3
    assert decodes() == 1
    assert _persisted_rdds(spark) == before + 1  # the caller-owned matched
    out["matched"].unpersist()
    assert _persisted_rdds(spark) == before


def test_daily_import_leaves_a_caller_cache_alone(spark, fixtures, tmp_path):
    grid, charge_table, customer_dim = fixtures
    grid = grid.cache()
    cfg = EntityConfig(entity="pw", transport_root=str(tmp_path / "xero"))
    out = run_daily_import(grid, charge_table, customer_dim, cfg)
    out["matched"].unpersist()
    assert grid.storageLevel.useMemory  # still the caller's
    grid.unpersist()


def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [
            (1, 10, datetime.datetime(2024, 1, 1, 12, 0)),
            (2, 10, datetime.datetime(2024, 1, 1, 9, 0)),   # before any right
            (3, 20, datetime.datetime(2024, 1, 1, 12, 0)),
        ],
        "event_id long, user_id long, ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [
            (101, 10, datetime.datetime(2024, 1, 1, 10, 0)),
            (102, 10, datetime.datetime(2024, 1, 1, 11, 30)),
            (103, 20, datetime.datetime(2024, 1, 1, 12, 0)),  # equal ts matches
        ],
        "event_id long, user_id long, ts timestamp_ntz",
    )
    got = {
        r["event_id"]: (r["event_id_right"], r["ts_right"])
        for r in asof_join_backward(left, right, on="user_id", right_cols=["event_id"]).collect()
    }
    assert got[1][0] == 102   # latest at-or-before 12:00
    assert got[2][0] is None  # nothing before 9:00
    assert got[3][0] == 103   # equal timestamp matches (>= semantics)


def test_validate_entity_config():
    import pytest

    from xero_api_etl_utilities_spark.plans.pipeline import (
        ConfigError,
        EntityConfig,
        validate_entity_config,
    )

    ok = EntityConfig(entity="pw", transport_root="/tmp/x")
    assert validate_entity_config(ok) is ok
    with pytest.raises(ConfigError) as exc:
        validate_entity_config(
            EntityConfig(entity="zz", transport_root=" ", expense_gl_code="abc")
        )
    msg = str(exc.value)  # every problem reported at once
    assert "entity" in msg and "transport_root" in msg and "expense_gl_code" in msg
