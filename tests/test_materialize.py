"""Reliable checkpointing through ``operators.materialize``."""

from __future__ import annotations

import os

from xero_api_etl_utilities_spark.operators.materialize import materialize


def test_checkpoint_dir_is_set_only_when_it_changes(spark, tmp_path):
    """Two calls with one directory share its checkpoint subdirectory; a
    call with a different directory, or after the context was re-pointed
    elsewhere, points the context at the requested one."""
    sc = spark.sparkContext
    first, second = str(tmp_path / "a"), str(tmp_path / "b")
    df = spark.range(10)

    assert materialize(df, first).count() == 10
    set_first = sc.getCheckpointDir()
    assert materialize(df, first).count() == 10
    assert sc.getCheckpointDir() == set_first
    assert len(os.listdir(first)) == 1  # one UUID subdirectory for both calls

    assert materialize(df, second).count() == 10
    assert sc.getCheckpointDir() != set_first
    assert os.path.dirname(sc.getCheckpointDir()).endswith(second)
    assert len(os.listdir(second)) == 1
    assert len(os.listdir(first)) == 1

    sc.setCheckpointDir(first)  # re-pointed outside materialize
    assert materialize(df, second).count() == 10
    assert os.path.dirname(sc.getCheckpointDir()).endswith(second)
