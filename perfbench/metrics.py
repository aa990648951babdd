"""Summary statistics shared by the benchmark and its tests."""

from __future__ import annotations

import numpy as np

# A percentile is reported only when at least this many samples lie
# beyond it, so that one slow operation cannot set it on its own.
MIN_TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0 < q < 100), the
    'inclusive' method of ``statistics.quantiles``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def min_samples_for(q: float) -> int:
    """Fewest samples for which the ``q``-th percentile has at least
    MIN_TAIL_SAMPLES samples beyond it (40 for p75, 100 for p90)."""
    return round(MIN_TAIL_SAMPLES * 100.0 / (100.0 - q))


def tail_percentile(values: list[float], q: float) -> float | None:
    """The ``q``-th percentile, or None when too few samples lie
    beyond it to be worth reporting."""
    if len(values) < min_samples_for(q):
        return None
    return percentile(values, q)


def hd_median(values: list[float]) -> float:
    """Harrell-Davis estimate of the median: the mean of all order
    statistics, the i-th of n weighted by the Beta((n+1)/2, (n+1)/2)
    distribution's mass between (i-1)/n and i/n. Among a few operations
    of different lengths, the sample median jumps from one operation's
    time to its neighbour's when their ranks swap; this estimate moves
    smoothly."""
    if not values:
        raise ValueError("median of no samples")
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    if n == 1:
        return float(xs[0])
    # the Beta(a, a) cdf, by the trapezoid rule on a fine grid
    a = (n + 1) / 2.0
    grid = np.linspace(0.0, 1.0, 20001)
    inner = grid[1:-1]
    log_pdf = (a - 1) * (np.log(inner) + np.log1p(-inner))
    pdf = np.zeros_like(grid)
    pdf[1:-1] = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum(pdf[1:] + pdf[:-1])])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(weights @ xs)
