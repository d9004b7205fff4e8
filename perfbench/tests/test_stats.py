import pytest

from perfbench.stats import TAIL_BEYOND, median, tail


def test_tail_leaves_exactly_ten_samples_beyond():
    values = [float(i) for i in range(1, 21)]  # 1..20, shuffled order must not matter
    t = tail(list(reversed(values)))
    assert t == {"value": 10.0, "pct": 50.0, "n": 20}
    assert sum(v > t["value"] for v in values) == TAIL_BEYOND


def test_tail_of_a_hundred_is_p90():
    t = tail([float(i) for i in range(100)])
    assert (t["value"], t["pct"], t["n"]) == (89.0, 90.0, 100)


def test_tail_smallest_sample():
    t = tail([5.0] * 10 + [1.0])
    assert t["value"] == 1.0
    assert t["pct"] == pytest.approx(100 / 11)


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_needs_more_than_ten_samples(n):
    with pytest.raises(ValueError):
        tail([1.0] * n)


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    with pytest.raises(ValueError):
        median([])
