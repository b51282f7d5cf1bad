"""The percentile rule: the highest percentile with at least ten samples
beyond it, with the sample count."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import median, tail  # noqa: E402


def test_hundred_samples_give_p90():
    assert tail(list(range(1, 101))) == (90, 90, 100)


def test_thousand_samples_give_p99():
    p, v, n = tail(list(range(1000)))
    assert (p, n) == (99, 1000) and sum(1 for x in range(1000) if x > v) == 10


def test_twenty_samples_give_the_median():
    assert tail(list(range(20))) == (50, 9, 20)


def test_ten_or_fewer_samples_give_nothing():
    assert tail(list(range(10))) is None
    assert tail([]) is None


def test_every_reported_percentile_has_ten_beyond_it():
    for n in range(11, 300):
        xs = list(range(n))
        p, v, count = tail(xs)
        assert count == n and sum(1 for x in xs if x > v) >= 10
        # one percentile higher would leave fewer than ten beyond
        if p < 99:
            nxt = -(-(p + 1) * n // 100)
            assert n - nxt < 10


def test_median_of_unsorted():
    assert median([3.0, 1.0, 2.0]) == 2.0
