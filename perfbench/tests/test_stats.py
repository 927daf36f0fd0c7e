import math
import statistics

import pytest

import stats


def test_median_interpolates_and_is_always_reported():
    assert stats.percentile([3, 1, 2], 50) == 2
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile([7.0], 50) == 7.0
    assert stats.percentile([], 50) is None


def test_p90_needs_ten_samples_beyond_it():
    assert stats.percentile(list(range(99)), 90) is None
    xs = list(range(100))
    assert stats.percentile(xs, 90) == pytest.approx(89.1)
    assert sum(x > stats.percentile(xs, 90) for x in xs) == 10


def test_percentile_rejects_out_of_range_q():
    with pytest.raises(ValueError):
        stats.percentile([1, 2], 100)


def test_tail_is_the_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(30)]
    q = math.floor(100 - 100 * 10 / 30)  # 66
    assert stats.tail(xs) == stats.percentile(xs, 50 if q <= 50 else q) == pytest.approx(19.14)
    assert sum(x > stats.tail(xs) for x in xs) >= 10
    assert stats.tail([5.0, 1.0, 3.0]) == 3.0  # too few: the median
    assert stats.tail(list(range(1000))) == stats.percentile(list(range(1000)), 99)
    assert stats.tail([]) is None


def test_summary_quartiles_match_statistics():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    s = stats.summary(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4)
    geo = (5.0 * 1.0 * 4.0 * 2.0 * 3.0) ** (1 / 5)
    assert s == {"n": 5, "p50": 3.0, "p90": None, "geomean": pytest.approx(geo), "q1": q1, "q3": q3}
    assert stats.spread(xs) == pytest.approx((q3 - q1) / 3.0)


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1
        _span(3, 0, 8.0, 12.0),  # runs past its parent
        _span(4, 1, 1.5, 2.5),  # grandchild: covered by span 1 already
    ]
    st = stats.self_time(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_self_time_without_children_is_the_duration():
    assert stats.self_time([_span(0, None, 1.0, 4.5)]) == {0: 3.5}
