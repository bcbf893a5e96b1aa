"""Summary statistics shared by the benchmark runner and its tests."""
import math


def percentile(xs, p):
    """Linear-interpolated p-th percentile (0-100) of `xs`, as numpy's
    default method computes it; NaN for an empty list."""
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(xs):
    return percentile(xs, 50)


def tail_percentile(n, candidates=(99, 95, 90, 80, 75, 50), beyond=10):
    """The highest candidate percentile that leaves at least `beyond` of
    `n` samples above it, or None when even the lowest does not."""
    for p in candidates:
        if n * (100 - p) / 100.0 >= beyond:
            return p
    return None


def geomean(xs):
    """Geometric mean of positive values; NaN for an empty list."""
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")
