"""Percentiles as the benchmark reports them."""

from __future__ import annotations


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def supported_tail(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it."""
    return max(0, min(99, int(100 * (1 - 10 / n)))) if n else 0
