"""The tail-percentile rule: report the highest percentile that has at
least ten samples ranked beyond it."""

import pytest

from perfbench import stats


@pytest.mark.parametrize(
    ("n", "p"),
    [(10, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, p):
    got = stats.tail_percentile([float(i) for i in range(n)])
    if p is None:
        assert got is None
    else:
        assert got[0] == p
        beyond = sum(v > got[1] for v in range(n))
        assert beyond >= 10


def test_tail_value_is_nearest_rank():
    values = [float(v) for v in range(1, 101)]  # 1..100
    assert stats.tail_percentile(values) == (90.0, 90.0)
    assert stats.nearest_rank(values, 50) == 50.0

