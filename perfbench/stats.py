"""Order statistics, interval arithmetic and name checks used by run.py."""
import math
import re

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def valid_name(name):
    """Metric names use the grammar [A-Za-z0-9_.-]+."""
    return NAME.fullmatch(name) is not None


def median(xs):
    """Middle order statistic; the mean of the two middle ones for even n."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def hd_median(xs):
    """Harrell-Davis estimate of the median: a weighted mean of all order
    statistics, the i-th of n weighted by the mass that a
    Beta((n+1)/2, (n+1)/2) distribution puts on ((i-1)/n, i/n]. Unlike the
    middle order statistic it does not jump from one sample to the next when
    two samples near the middle swap places. The Beta CDF is integrated with
    the trapezoid rule on a fixed grid; the weights are renormalised."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    a = (n + 1) / 2
    if n == 1:
        return s[0]
    log_norm = math.lgamma(2 * a) - 2 * math.lgamma(a)
    grid = 4000

    def pdf(x):  # a > 1 here, so the density vanishes at 0 and 1
        if x <= 0 or x >= 1:
            return 0.0
        return math.exp(log_norm + (a - 1) * (math.log(x) + math.log1p(-x)))

    cdf, acc, prev = [0.0], 0.0, pdf(0.0)
    for k in range(1, grid + 1):
        cur = pdf(k / grid)
        acc += (prev + cur) / (2 * grid)
        cdf.append(acc)
        prev = cur

    def at(x):
        pos = x * grid
        k = min(int(pos), grid - 1)
        return cdf[k] + (cdf[k + 1] - cdf[k]) * (pos - k)

    weights = [at(i / n) - at((i - 1) / n) for i in range(1, n + 1)]
    return sum(w * v for w, v in zip(weights, s)) / sum(weights)


def high_percentile(xs, candidates=(99.9, 99, 95, 90, 75)):
    """The highest candidate percentile with at least ten samples above it,
    as (percentile, value), or None when even the lowest has fewer.

    The value is the nearest-rank order statistic: the ceil(p/100 * n)-th
    smallest sample."""
    s = sorted(xs)
    n = len(s)
    for p in candidates:
        rank = math.ceil(p / 100 * n)
        if rank >= 1 and n - rank >= 10:
            return p, s[rank - 1]
    return None


def union_ms(intervals, lo, hi):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def gap_s(window, jobs):
    """Driver gap of one key execution: its wall time minus the time at
    least one of its jobs was running. `window` and the job intervals are
    (start_ms, end_ms)."""
    lo, hi = window
    return (hi - lo - union_ms(jobs, lo, hi)) / 1e3
