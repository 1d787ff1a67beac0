"""Fixed statistics for the benchmark: every timing is reported as a
median or a stated percentile, always with its sample count. No minimum
is ever reported, and no budget changes which statistic is used."""
import math


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between the
    closest ranks (the "inclusive" method of ``statistics.quantiles``)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def beyond(n, q):
    """How many of n samples lie strictly above the q-th percentile's rank."""
    return n - 1 - math.floor((n - 1) * q / 100.0)


def summary(values, q):
    """``{"p50": .., "p<q>": .., "n": .., "beyond": ..}`` for one timing."""
    return {"p50": median(values), f"p{q}": percentile(values, q),
            "n": len(values), "beyond": beyond(len(values), q)}
