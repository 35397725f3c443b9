import pytest

from stats import geomean, hi, hi_percentile, percentile, union_length


@pytest.mark.parametrize("n,expected", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
    (9999, 99.0), (10_000, 99.9),
])
def test_hi_percentile_keeps_ten_samples_beyond(n, expected):
    p = hi_percentile(n)
    assert p == expected
    if p is not None:
        vals = list(range(n))
        assert sum(v > percentile(vals, p) for v in vals) >= 10


def test_hi_reports_value_and_sample_count():
    vals = list(range(1, 41))  # 40 samples -> p75 -> 30th value
    assert hi(vals) == {"p": 75.0, "value": 30.0, "n": 40}
    assert hi([1.0, 2.0]) == {"p": None, "value": None, "n": 2}


def test_percentile_is_a_measured_value():
    assert percentile([5, 1, 3], 50) == 3
    assert percentile([1, 2, 3, 4], 75) == 3
    assert percentile([7], 99) == 7


def test_geomean_and_union_length():
    assert geomean([1, 4]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        geomean([1, 0])
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 1), (0, 1)]) == 1
