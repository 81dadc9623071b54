"""The event-log folder against a small hand-written log."""

import os
import shutil

import pytest

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


def test_fold_attributes_tasks_to_their_job_group():
    calls = eventlog.fold(eventlog.read_events(FIXTURE))
    assert set(calls) == {"pb00001-q"}  # the ungrouped job is dropped
    c = calls["pb00001-q"]
    assert c.jobs == 2  # job 2 ran no task but still belongs to the group
    assert c.stages == {0, 1}
    assert (c.tasks, c.failed_tasks) == (3, 1)
    assert c.run_s == pytest.approx(0.865)
    assert c.cpu_s == pytest.approx(0.55)
    assert c.gc_s == pytest.approx(0.01)
    assert (c.shuffle_write_bytes, c.shuffle_read_bytes, c.spill_bytes) == (1500, 1500, 64)
    # two overlapping scan tasks (1000-1600) plus one later task (2000-2100)
    assert c.covered_s() == pytest.approx(0.7)
    assert c.scope_stages["Scan parquet "] == {0}
    assert c.scope_records["Scan parquet "] == 1000
    assert c.scope_run_s["Scan parquet "] == pytest.approx(0.77)
    assert "Scan binaryFile " not in c.scope_stages


def test_rolling_log_directory_reads_in_index_order(tmp_path):
    lines = open(FIXTURE).read().splitlines(keepends=True)
    log = tmp_path / "eventlog_v2_local-1"
    log.mkdir()
    # the job start is in the first file: reading the second file first
    # would drop its task as belonging to no known job
    (log / "events_2_local-1").write_text("".join(lines[7:]))
    (log / "events_1_local-1").write_text("".join(lines[:7]))
    (log / "appstatus_local-1").write_text("")
    calls = eventlog.fold(eventlog.read_events(str(tmp_path)))
    assert calls["pb00001-q"].tasks == 3
    shutil.rmtree(log)
    assert eventlog.fold(eventlog.read_events(str(tmp_path))) == {}
