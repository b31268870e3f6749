"""The benchmark's own arithmetic: medians, the tail-percentile rule, the
Harrell-Davis quantile estimate and interval unions.  Pure Python, so
``selfcheck.py`` can test it without Spark."""

from __future__ import annotations

import math

MIN_BEYOND = 10


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no values")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least ``MIN_BEYOND`` of ``n``
    samples beyond it (p90 at 100 samples, p66 at 30); None when that
    would not reach the median (fewer than 20 samples)."""
    if n < 2 * MIN_BEYOND:
        return None
    return (100 * (n - MIN_BEYOND)) // n


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the Harrell-Davis estimate of the percentile
    the ≥10-beyond rule picks.  With fewer than 20 samples there is no
    such percentile, and the estimate is taken at n/(n+1), where the
    largest of n samples falls on average: a maximum smoothed over the
    top few samples."""
    n = len(values)
    p = tail_percentile(n)
    q = p / 100.0 if p is not None else n / (n + 1.0)
    return hd_quantile(values, q), round(100.0 * q, 1)


def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a weighted mean of all
    order statistics, the i-th of n weighted by the Beta(q(n+1),
    (1-q)(n+1)) mass on [(i-1)/n, i/n].  Where the sample has gaps (a few
    dozen ops of unlike cost), one op moving across a gap moves a single
    order statistic by the whole gap, but this estimate only by its
    weight."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("quantile of no values")
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((hi - lo) * v for lo, hi, v in zip(cdf, cdf[1:], s))


def betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - betainc(b, a, 1.0 - x)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log(1.0 - x))
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x
                    / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return front * h / a


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float
         ) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]
