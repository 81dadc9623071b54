"""bench.py start-up checks: bad configuration ends the run before any
query does."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent / "bench.py"


@pytest.mark.parametrize("cpus", ["abc", "0", "-4", "2.5"])
def test_malformed_cpus_exits_before_spark_starts(cpus):
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    done = subprocess.run(
        [sys.executable, str(BENCH)], env=env, capture_output=True, text=True, timeout=60
    )
    assert done.returncode == 2
    assert "SPARK_GRAFT_CPUS must be a positive integer" in done.stderr
    assert done.stdout == ""
