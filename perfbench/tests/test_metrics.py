import math

import pytest

from metrics import (geomean, percentile, self_time, tail_percentile,
                     tail_ratio, union_length)


@pytest.mark.parametrize("n,pct", [
    (100, 90.0),   # exactly 10 beyond the 90th
    (101, 90.0),   # 10.1 beyond; 91st would leave 9.09
    (25, 60.0),
    (21, 52.0),
    (20, 50.0),    # the median is the floor
    (5, 50.0),
])
def test_tail_percentile_leaves_ten_beyond(n, pct):
    assert tail_percentile(n) == pct
    if pct > 50:
        assert n * (100 - pct) / 100 >= 10
        assert n * (100 - (pct + 1)) / 100 < 10


def test_tail_percentile_rejects_empty():
    with pytest.raises(ValueError):
        tail_percentile(0)


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 90) == pytest.approx(3.7)


def test_tail_ratio_pools_ratios_to_each_ops_median():
    # op "a": 29 samples at 1.0 s and one at 3.0 s; op "b": 10 at 2.0 s
    samples = {"a": [1.0] * 29 + [3.0], "b": [2.0] * 10}
    ratio, pct, n = tail_ratio(samples)
    assert n == 40
    assert pct == 75.0
    assert ratio == 1.0          # 30 of 40 ratios sit at exactly 1.0
    samples["a"] = [1.0] * 19 + [3.0] * 11
    ratio, _, _ = tail_ratio(samples)
    assert ratio == pytest.approx(3.0)


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([0.2, 0.2, 0.2]) == pytest.approx(0.2)
    # a 2x regression of one cheap op moves the geomean as much as a
    # 2x regression of the most expensive one
    base = [0.2, 5.0]
    assert geomean([0.4, 5.0]) == pytest.approx(geomean([0.2, 10.0]))
    assert geomean([0.4, 5.0]) / geomean(base) == pytest.approx(math.sqrt(2))
    with pytest.raises(ValueError):
        geomean([])
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_union_length_merges_overlaps_and_clips():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(0, 10)], lo=2, hi=5) == pytest.approx(3.0)
    assert union_length([(0, 1), (1, 2)]) == pytest.approx(2.0)
    assert union_length([(5, 6)], lo=0, hi=4) == 0.0


def test_self_time_of_nested_spans():
    # op [0, 10] with build [1, 4] and exec [4, 9]: self time 2
    assert self_time(0, 10, [(1, 4), (4, 9)]) == pytest.approx(2.0)
    # overlapping children (two concurrent jobs) count once
    assert self_time(0, 10, [(1, 6), (2, 8)]) == pytest.approx(3.0)
    # a child leaking past the parent is clipped to it
    assert self_time(0, 10, [(8, 12)]) == pytest.approx(8.0)
    assert self_time(0, 10, []) == pytest.approx(10.0)
