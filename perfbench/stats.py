"""Percentiles that refuse to extrapolate.

A timing is reported as a percentile only when at least ``MIN_BEYOND``
samples lie beyond it: the median needs 20 samples, p90 needs 100.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(xs, q: float) -> float:
    """The ``q``-th percentile (0 < q < 100) of ``xs``, interpolated
    between closest ranks. Raises ``TooFewSamples`` unless at least
    ``MIN_BEYOND`` samples lie above it."""
    n = len(xs)
    beyond = n - math.ceil(q / 100.0 * n)
    if beyond < MIN_BEYOND:
        raise TooFewSamples(
            f"p{q:g} of {n} samples has {beyond} beyond it, needs {MIN_BEYOND}")
    s = sorted(xs)
    pos = q / 100.0 * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def mean(xs) -> float:
    """Arithmetic mean; refuses an empty list instead of reading 0."""
    if not xs:
        raise TooFewSamples("mean of no samples")
    return sum(xs) / len(xs)
