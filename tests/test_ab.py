"""The paired A/B arithmetic of ``tools/ab.py``: win counts with ties
counting for neither side, quartiles, and the gain rule."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from ab import compare, quartiles  # noqa: E402


def test_quartiles_inclusive():
    assert quartiles([4.0, 1.0, 3.0, 2.0, 5.0]) == (2.0, 3.0, 4.0)
    assert quartiles([1.0, 2.0, 3.0, 4.0]) == (1.75, 2.5, 3.25)
    assert quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_wins_count_pairs_and_ties_count_for_neither():
    parent = [10.0, 10.0, 10.0, 10.0]
    change = [9.0, 10.0, 11.0, 8.0]
    s = compare(parent, change, "lower", 0.25)
    assert (s["wins"], s["losses"], s["ties"], s["pairs"]) == (2, 1, 1, 4)
    # the same numbers where higher is better swap wins and losses
    s = compare(parent, change, "higher", 0.25)
    assert (s["wins"], s["losses"], s["ties"]) == (1, 2, 1)


def test_gain_needs_ten_pairs_nine_tenths_won_and_a_gap_wider_than_the_iqr():
    parent = [10.0, 11.0, 12.0, 13.0, 14.0, 10.0, 11.0, 12.0, 13.0, 14.0]
    clear = [v - 5.0 for v in parent]
    s = compare(parent, clear, "lower", 0.25)
    assert s["parent_iqr"] == pytest.approx(2.0)  # q1 11, q3 13
    assert s["wins"] == 10 and s["gain"] is True
    # wins every pair, but by less than the parent's own spread
    close = [v - 1.0 for v in parent]
    s = compare(parent, close, "lower", 0.25)
    assert s["wins"] == 10 and s["gain"] is False
    # a wide gap with only 8/10 wins is no claim either
    mixed = clear[:8] + [v + 1.0 for v in parent[8:]]
    s = compare(parent, mixed, "lower", 0.25)
    assert s["wins"] == 8 and s["gain"] is False
    # nine clear wins out of nine pairs are too few pairs to claim
    s = compare(parent[:9], clear[:9], "lower", 0.25)
    assert s["wins"] == 9 and s["gain"] is False


def test_bound_and_crashed_runs():
    s = compare([100.0, 100.0], [124.0, 126.0], "lower", 0.25)
    assert s["ratio"] == pytest.approx(1.25) and s["within_bound"] is True
    s = compare([100.0, 100.0], [130.0, 126.0], "lower", 0.25)
    assert s["within_bound"] is False
    # a pair with a crashed side is left out, not counted as a win
    s = compare([10.0, None, 10.0], [9.0, 1.0, None], "lower", 0.25)
    assert (s["pairs"], s["wins"]) == (1, 1)
    assert compare([None], [1.0], "lower", 0.25) == {"pairs": 0}
