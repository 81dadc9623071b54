"""Where lineage cuts are written, and the session memo registry, in
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


def _checkpoint_file(df) -> str | None:
    """Where a materialized frame's rows were written, or None when they
    live in executor storage only."""
    f = df._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
    return f.get() if f.isDefined() else None


def test_materialize_checkpoints_under_the_session_directory(spark, ckpt_dir):
    out = materialize(spark.range(10))
    written = _checkpoint_file(out)
    assert written is not None
    assert written.startswith(f"file:{ckpt_dir}/")
    assert os.listdir(written.removeprefix("file:"))
    assert sorted(r.id for r in out.collect()) == list(range(10))


def test_checkpoint_files_go_with_their_frame(spark, ckpt_dir):
    """The session removes a reliable checkpoint once nothing references
    its frame (``spark.cleaner.referenceTracking.cleanCheckpoints``):
    drop the frame, collect garbage on both sides of py4j, and its
    ``rdd-N`` directory goes within seconds."""
    import gc

    out = materialize(spark.range(10))
    written = _checkpoint_file(out).removeprefix("file:")
    assert os.path.basename(written).startswith("rdd-") and os.path.isdir(written)
    del out
    deadline = time.monotonic() + 20
    while os.path.exists(written) and time.monotonic() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.2)
    assert not os.path.exists(written)


def test_materialize_writes_no_file_without_a_session_directory(spark):
    # runs after a test that used the ``ckpt_dir`` fixture, so this
    # also sees the fixture leave the session without a directory
    assert spark.sparkContext.getCheckpointDir() is None
    out = materialize(spark.range(10))
    assert _checkpoint_file(out) is None
    assert sorted(r.id for r in out.collect()) == list(range(10))


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
