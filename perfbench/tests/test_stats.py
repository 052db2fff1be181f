"""The tail-percentile rule: the highest percentile with ≥ 10 samples beyond it."""

from perfbench.stats import geomean, tail


def test_no_tail_below_eleven_samples():
    assert tail([]) is None
    assert tail([1.0] * 10) is None


def test_eleven_samples_leave_ten_beyond_the_smallest():
    value, pct, n = tail([float(i) for i in range(11)])
    assert (value, pct, n) == (0.0, 9, 11)


def test_hundred_samples_give_p90_with_ten_beyond():
    xs = [float(i) for i in range(100, 0, -1)]  # order must not matter
    value, pct, n = tail(xs)
    assert (pct, n) == (90, 100)
    assert value == 90.0
    assert sum(x > value for x in xs) == 10


def test_every_size_keeps_ten_samples_beyond():
    for n in range(11, 400):
        xs = [float(i) for i in range(n)]
        value, pct, _ = tail(xs)
        assert sum(x > value for x in xs) >= 10
        # one percentile higher would leave fewer than ten beyond
        assert 100 * (n - 10) // n == pct


def test_geomean():
    assert abs(geomean([1.0, 4.0, 16.0]) - 4.0) < 1e-12
