"""Storage-layout sinks: partition pruning and bucketed joins."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.sources.writer import (
    read_partitioned,
    write_partitioned,
)


def test_partitioned_write_prunes(spark, tmp_path):
    path = str(tmp_path / "facts")
    df = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-01", 20.0), (3, "2024-01-02", 30.0)],
        "id long, day string, amount double",
    )
    write_partitioned(df, path, ["day"])
    back = read_partitioned(spark, path).filter(F.col("day") == "2024-01-01")
    assert back.count() == 2
    # the day filter must prune partitions, not scan-and-filter
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "2024-01-01" in plan


def test_bucketed_join_elides_shuffle(spark, sf_dir, tmp_path):
    """The 100 TB co-location claim, proven at the plan level: both
    sides bucketed by the join key -> SortMergeJoin with ZERO Exchange
    nodes, and the same row count as the shuffled plain-parquet join."""
    import contextlib
    import io

    from xero_api_etl_utilities_spark.sources.writer import write_bucketed_table

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdemo LOCATION '{tmp_path}/wh'")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed_table(orders, "bdemo.o_b", ["o_orderkey"])
        write_bucketed_table(li, "bdemo.l_b", ["l_orderkey"])
        a, b = spark.table("bdemo.o_b"), spark.table("bdemo.l_b")
        joined = a.join(b, a["o_orderkey"] == b["l_orderkey"])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing elided BOTH shuffles
        assert joined.count() == orders.join(
            li, orders["o_orderkey"] == li["l_orderkey"]
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP DATABASE IF EXISTS bdemo CASCADE")

