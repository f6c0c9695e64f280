"""Percentile helpers for the benchmark's reported timings."""
import math


class TooFewSamples(ValueError):
    """A percentile was asked for with fewer than `min_beyond` samples
    beyond it."""


def percentile(values, q, min_beyond=10):
    """Nearest-rank `q`-quantile (0 < q < 1) of `values`, returned as
    (value, sample_count). A value of math.inf (a failed op) ranks slower
    than every finite sample. Refuses, with TooFewSamples, a percentile
    with fewer than `min_beyond` samples beyond it: the p50 needs 20
    samples, the p90 100, the p99 1000."""
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if n == 0 or n - rank < min_beyond:
        raise TooFewSamples(f"p{q * 100:g} needs {min_beyond} samples beyond it; "
                            f"{n} samples leave {max(0, n - rank)}")
    return sorted(values)[rank - 1], n


def median(values):
    """Plain median, for summaries (no sample floor)."""
    s = sorted(values)
    if not s:
        return 0.0
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def slope(ys):
    """Least-squares slope of ys against their index (units per step)."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(ys) / n
    den = sum((i - mx) ** 2 for i in range(n))
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / den
