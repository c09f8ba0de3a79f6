"""Tests for the benchmark's tail rule: ``python3 -m pytest perfbench``."""

from __future__ import annotations

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def test_hundred_samples_give_p90_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_more_samples_move_the_tail_up():
    value, pct, n = stats.tail([float(i) for i in range(1, 201)])
    assert (value, pct, n) == (190.0, 95.0, 200)


@pytest.mark.parametrize("n", [0, 5, 10, 20, 99])
def test_too_few_samples_fail_loudly(n):
    with pytest.raises(stats.TooFewSamples):
        stats.tail([1.0] * n)


def test_refusal_names_the_sample_count_needed():
    with pytest.raises(stats.TooFewSamples, match="need 100"):
        stats.tail([float(i) for i in range(24)])


def test_tail_never_below_median():
    rng = random.Random(7)
    for n in (100, 137, 250, 1000):
        xs = [rng.lognormvariate(0, 1) for _ in range(n)]
        value, pct, _ = stats.tail(xs)
        assert pct >= stats.TAIL_MIN_PCT
        assert value >= stats.median(xs)
        assert sum(x > value for x in xs) >= stats.TAIL_MIN_BEYOND


def test_order_of_samples_does_not_matter():
    xs = [float(i % 37) for i in range(150)]
    assert stats.tail(xs) == stats.tail(sorted(xs, reverse=True))


def test_median_of_nothing_is_refused():
    with pytest.raises(stats.TooFewSamples):
        stats.median([])
