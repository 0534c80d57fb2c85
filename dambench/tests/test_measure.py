"""Percentile rule and span self-time arithmetic."""

from __future__ import annotations

import pytest

from dambench.measure import Span, highest_resolved, percentile, resolved, self_times


def test_percentile_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == 50.0
    assert percentile(xs, 90) == 90.0
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_weighted_percentile_reweights_the_mix():
    # the 3.0 sample stands for half of the mix
    assert percentile([1.0, 2.0, 3.0], 50, [1.0, 1.0, 2.0]) == 2.0
    assert percentile([1.0, 2.0, 3.0], 75, [1.0, 1.0, 2.0]) == 3.0
    assert percentile([5.0, 1.0], 50, [0.5, 0.5]) == 1.0


def test_p90_needs_ten_samples_beyond():
    # 100 samples: p90 is rank 90, ranks 91..100 lie beyond it
    assert resolved(100, 90)
    assert not resolved(99, 90)
    assert resolved(20, 50)
    assert not resolved(19, 50)
    assert highest_resolved(100) == 90
    assert highest_resolved(20) == 50
    assert highest_resolved(10) is None
    assert highest_resolved(1000) == 99


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        Span(0, "root", 0.0, 10.0, None, 1),
        # overlapping children cover [1, 5] once
        Span(1, "a", 1.0, 3.0, 0, 1),
        Span(2, "b", 2.0, 5.0, 0, 1),
        # a child running past its parent counts only inside it
        Span(3, "c", 8.0, 12.0, 0, 1),
        # a grandchild is covered by its parent, not the root
        Span(4, "d", 2.5, 4.0, 2, 1),
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got[1] == pytest.approx(2.0)
    assert got[2] == pytest.approx(3.0 - 1.5)
    assert got[3] == pytest.approx(4.0)
    assert got[4] == pytest.approx(1.5)
