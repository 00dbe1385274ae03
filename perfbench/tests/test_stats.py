"""The percentile helper refuses to read a percentile off too few samples."""

import pytest

from stats import TooFewSamples, mean, percentile


def test_median_needs_ten_samples_above_it():
    with pytest.raises(TooFewSamples):
        percentile(list(range(19)), 50)
    assert percentile(list(range(20)), 50) == pytest.approx(9.5)


def test_p90_needs_a_hundred_samples():
    with pytest.raises(TooFewSamples):
        percentile(list(range(99)), 90)
    assert percentile(list(range(101)), 90) == pytest.approx(90.0)


def test_no_samples_is_refused_not_zero():
    with pytest.raises(TooFewSamples):
        percentile([], 50)
    with pytest.raises(TooFewSamples):
        mean([])
    assert mean([1.0, 2.0]) == 1.5
