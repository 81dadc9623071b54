"""Configuration checks in the entry point run before any work."""

import pytest

from perfbench import run


@pytest.mark.parametrize("raw", ["4x", "0", "-2", "2.5", " "])
def test_malformed_cpu_count_is_rejected(raw):
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        run.parse_cpus(raw)


def test_cpu_count_defaults_to_this_process_affinity():
    assert run.parse_cpus(None) >= 1
    assert run.parse_cpus("3") == 3


def test_bad_cpu_env_exits_before_starting_spark(monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "four")
    argv = ["--workload", "ep1_daily_import", "--seed", "1", "--seconds", "1"]
    assert run.main(argv) == 2
    out = capsys.readouterr()
    assert out.out == "" and "SPARK_GRAFT_CPUS" in out.err
