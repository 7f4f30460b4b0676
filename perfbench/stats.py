"""Percentiles for the benchmark's timings."""
import math


def percentile(values, p):
    """The p-th percentile (0 < p < 100) by nearest rank, or None when fewer
    than ten samples lie beyond it: a tail figure needs at least ten samples
    past it to mean anything."""
    n = len(values)
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < 10:
        return None
    return sorted(values)[rank - 1]


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        return None
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def linear_fit(xs, ys):
    """Least-squares (intercept, slope) of ys over xs; None with fewer than
    two distinct xs."""
    n = len(xs)
    if n < 2 or len(set(xs)) < 2:
        return None
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    sxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    slope = sxy / sxx
    return my - slope * mx, slope
