"""bench.py start-up checks and record: bad configuration ends the run
before any query does, and a run's record carries the stdout contract
plus each entry's probe counts."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
BENCH = REPO / "bench.py"
CONTRACT = {"metric", "value", "unit", "sf", "n_queries", "n_bounded_baselines",
            "stat", "best_total", "n_recycles", "detail"}


def _bench_copy(tmp_path: Path) -> Path:
    """bench.py writes its files next to itself: a copy keeps a run
    from touching the checkout."""
    return Path(shutil.copy(BENCH, tmp_path / "bench.py"))


@pytest.mark.parametrize("cpus", ["abc", "0", "-4", "2.5"])
def test_malformed_cpus_exits_before_spark_starts(cpus):
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    done = subprocess.run(
        [sys.executable, str(BENCH)], env=env, capture_output=True, text=True, timeout=60
    )
    assert done.returncode == 2
    assert "SPARK_GRAFT_CPUS must be a positive integer" in done.stderr
    assert done.stdout == ""


def _env(sf_dir: str) -> dict:
    """The copy imports the package from the checkout and runs at the
    sf0.01 tables next to the test tables."""
    return dict(os.environ, PYTHONPATH=str(REPO),
                SPARK_GRAFT_SF_DIR=str(Path(sf_dir).with_name("sf0.01")))


def test_unknown_names_exit_before_spark_starts(tmp_path, sf_dir):
    bench = _bench_copy(tmp_path)
    done = subprocess.run(
        [sys.executable, str(bench), "scan_project_filter", "no_such_query"],
        env=_env(sf_dir), capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 2
    assert "no_such_query" in done.stderr
    assert done.stdout == ""
    assert sorted(p.name for p in tmp_path.iterdir()) == ["bench.py"]


def test_subset_record_has_contract_and_probe_counts(tmp_path, sf_dir):
    bench = _bench_copy(tmp_path)
    done = subprocess.run(
        [sys.executable, str(bench), "scan_project_filter", "similarity_topk",
         "graph_triangle_counts"],
        env=_env(sf_dir), capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-4000:]
    line = json.loads(done.stdout.strip().splitlines()[-1])
    assert CONTRACT <= set(line)
    # graph_triangle_counts and the graph_edges memo build it triggers
    assert line["n_queries"] == 3 and line["n_bounded_baselines"] == 1
    assert "cpu_steal_share" in line
    assert not [k for k in line if k.startswith("calib_")]
    detail = json.loads((tmp_path / "BENCH_SUBSET.json").read_text())
    entry = detail["entries"]["scan_project_filter"]
    assert entry["jobs"] >= 1 and entry["cpu_s"] > 0
    assert "first_call" not in entry
    # the memo consumer's first call carries the build's work
    consumer = detail["entries"]["graph_triangle_counts"]
    assert "graph_edges_build" in detail["queries"]
    first = consumer["first_call"]
    assert set(first) == {"cpu_s", "jobs", "stages", "tasks"}
    assert first["jobs"] > consumer["jobs"] and first["cpu_s"] > 0
