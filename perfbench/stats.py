"""Order statistics shared by the run loop, the traced layers and the differ."""

from __future__ import annotations

import math

import numpy as np

_GRID = np.linspace(0.0, 1.0, 20001)


def median(values):
    """Median of a non-empty sequence (mean of the middle pair when even)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def percentile(values, q):
    """Harrell-Davis estimate of the ``q``-quantile (0 < q < 1) and the
    number of samples strictly above it.

    The estimate weights every order statistic by a Beta((n+1)q, (n+1)(1-q))
    density instead of picking one. Per-query latencies are a lumpy sample:
    a few queries, each sampled once per pass. A single order statistic near
    the tail then jumps between the slowest query and the next one from run
    to run, while the weighted estimate moves little. The count says how
    well the sample supports the percentile: a p90 over 40 samples has about
    four above it.
    """
    xs = np.sort(np.asarray(list(values), dtype=float))
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    if not 0 < q < 1:
        raise ValueError(f"quantile {q} outside (0, 1)")
    a, b = q * (n + 1), (1 - q) * (n + 1)
    inner = _GRID[1:-1]
    log_norm = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    pdf = np.exp((a - 1) * np.log(inner) + (b - 1) * np.log1p(-inner) - log_norm)
    pdf = np.concatenate([[0.0], pdf, [0.0]])
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2 * _GRID[1])])
    weights = np.diff(np.interp(np.arange(n + 1) / n, _GRID, cdf / cdf[-1]))
    value = float(weights @ xs)
    return value, int((xs > value).sum())
