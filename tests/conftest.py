from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from xero_api_etl_utilities_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="engine-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


@pytest.fixture
def ckpt_dir(spark, tmp_path):
    """Give the shared session a checkpoint directory for one test, so
    every lineage cut checkpoints reliably into it, and take it away
    afterwards: a later test must not checkpoint into a deleted
    ``tmp_path``."""
    sc = spark.sparkContext
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    yield ckpt
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
