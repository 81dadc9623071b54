"""Reliable checkpointing and the session memo registry in
``operators.materialize``."""

from __future__ import annotations

import os
import time
from types import SimpleNamespace

import pytest

from xero_api_etl_utilities_spark.operators.materialize import (
    MemoRegistry,
    materialize,
)


def _session(app_id: str):
    """The only part of a SparkSession a memo reads."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


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


def test_memo_builds_once_per_session_and_path(tmp_path):
    reg = MemoRegistry()
    calls = []

    @reg.memo("thing")
    def thing(spark, sf_dir):
        calls.append(sf_dir)
        return object()

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    s = _session("app-1")
    first = thing(s, a)
    assert thing(s, a) is first
    assert thing(s, a + "/") is first  # one entry per absolute path
    assert thing(s, b) is not first
    assert calls == [a, b]
    assert [(x.name, x.sf_dir) for x in reg.builds] == [("thing", a), ("thing", b)]
    with pytest.raises(ValueError):
        reg.memo("thing")


def test_new_session_drops_the_old_sessions_entries(tmp_path):
    reg = MemoRegistry()
    calls = []

    @reg.memo("thing")
    def thing(spark, sf_dir):
        calls.append(spark.sparkContext.applicationId)
        return object()

    d = str(tmp_path)
    old = thing(_session("app-1"), d)
    assert thing(_session("app-2"), d) is not old
    assert len(reg._entries) == 1  # app-1's value is gone, not kept
    thing(_session("app-1"), d)  # so going back rebuilds it
    assert calls == ["app-1", "app-2", "app-1"]


def test_nested_builds_record_exclusive_time(tmp_path):
    reg = MemoRegistry()

    @reg.memo("sigs")
    def sigs(spark, sf_dir):
        time.sleep(0.4)
        return "sigs"

    @reg.memo("cands")
    def cands(spark, sf_dir):
        time.sleep(0.1)
        return sigs(spark, sf_dir) + "+cands"

    @reg.memo("pairs")
    def pairs(spark, sf_dir):
        return cands(spark, sf_dir) + "+pairs"

    assert pairs(_session("app-1"), str(tmp_path)) == "sigs+cands+pairs"
    secs = {b.name: b.seconds for b in reg.builds}
    assert [b.name for b in reg.builds] == ["sigs", "cands", "pairs"]
    # inclusive times would read >= 0.5 s for both cands and pairs
    assert secs["sigs"] >= 0.4
    assert 0.1 <= secs["cands"] < 0.4
    assert 0.0 <= secs["pairs"] < 0.4


def test_rewarm_rebuilds_every_built_memo_in_build_order(tmp_path):
    reg = MemoRegistry()
    calls = []

    @reg.memo("sigs")
    def sigs(spark, sf_dir):
        calls.append(("sigs", spark.sparkContext.applicationId, sf_dir))
        return "sigs"

    @reg.memo("cands")
    def cands(spark, sf_dir):
        calls.append(("cands", spark.sparkContext.applicationId, sf_dir))
        return sigs(spark, sf_dir) + "+cands"

    @reg.memo("unused")
    def unused(spark, sf_dir):
        calls.append(("unused", spark.sparkContext.applicationId, sf_dir))

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    s1 = _session("app-1")
    cands(s1, a)
    sigs(s1, b)
    calls.clear()

    s2 = _session("app-2")
    reg.rewarm(s2)
    assert calls == [("sigs", "app-2", a), ("cands", "app-2", a), ("sigs", "app-2", b)]
    calls.clear()
    cands(s2, a), sigs(s2, b)  # the new session's consumers hit the memos
    assert calls == []
