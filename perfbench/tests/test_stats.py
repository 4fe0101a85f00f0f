"""The benchmark's own arithmetic (run: python3 -m pytest perfbench/tests)."""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench.stats import (clip, percentile, self_times, spread,  # noqa
                             tail_percentile, union_length)


def test_percentile_matches_linear_interpolation():
    xs = list(range(1, 12))          # 11 samples: ranks land exactly
    assert percentile(xs, 50) == 6
    assert percentile(xs, 90) == 10
    assert percentile(xs, 0) == 1 and percentile(xs, 100) == 11
    # between ranks: 10 samples, p90 sits 0.1 of the way from 9 to 10
    assert percentile(range(1, 11), 90) == pytest.approx(9.1)


def test_percentile_leaves_samples_beyond_p90():
    # with >= 10 samples the p90 is below the largest sample, so one
    # outlier cannot set it
    xs = [10.0] * 9 + [1000.0]
    assert percentile(xs, 90) < 1000.0
    assert percentile(xs, 50) == 10.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile(list(range(20)))[0] == 50.0
    q, v = tail_percentile(list(range(100)))
    assert q == 90.0 and v == percentile(range(100), 90)
    assert sum(x > v for x in range(100)) >= 10
    assert tail_percentile(list(range(1000)))[0] == 99.0


def test_spread_uses_statistics_quartiles():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    s = spread(xs)
    assert (s["q1"], s["q3"], s["median"]) == (q1, q3, 5.5)
    assert s["spread"] == pytest.approx((q3 - q1) / 5.5)


def test_union_length_counts_overlap_once():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert union_length([(5, 6), (0, 1), (0.5, 2)]) == 3
    assert union_length([(1, 1), (3, 2)]) == 0      # empty, reversed


def test_clip_keeps_parts_inside_window():
    assert clip([(0, 5), (6, 8), (9, 12)], 4, 10) == [(4, 5), (6, 8), (9, 10)]
    assert clip([(0, 1)], 2, 3) == []


def test_self_time_subtracts_direct_children():
    spans = {0: (None, 10.0), 1: (0, 3.0), 2: (0, 2.0), 3: (1, 1.0)}
    st = self_times(spans)
    assert st == {0: 5.0, 1: 2.0, 2: 2.0, 3: 1.0}
    assert sum(st.values()) == spans[0][1]
