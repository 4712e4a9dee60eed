"""Order statistics shared by run.py and compare.py."""
import math
import statistics

# A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p < 1). Refuses, with ValueError, a
    percentile that fewer than MIN_BEYOND samples lie beyond."""
    xs = sorted(values)
    rank = max(1, math.ceil(p * len(xs)))
    if len(xs) - rank < MIN_BEYOND:
        raise ValueError(f"p{round(p * 100)} of {len(xs)} samples has only "
                         f"{len(xs) - rank} beyond it; need {MIN_BEYOND}")
    return xs[rank - 1]


def median(values):
    return statistics.median(values)


def hd_median(values, steps=32):
    """Harrell-Davis estimate of the median: the order statistics weighted
    by a Beta((n+1)/2, (n+1)/2) density, so a gap between two groups of
    latencies at the middle of the sample moves it smoothly instead of
    making it jump from one group to the other."""
    xs = sorted(values)
    n = len(xs)
    a = (n + 1) / 2
    log_norm = 2 * math.lgamma(a) - math.lgamma(2 * a)

    def density(t):
        if t <= 0 or t >= 1:
            return 0.0
        return math.exp((a - 1) * (math.log(t) + math.log1p(-t)) - log_norm)

    weights = []
    for i in range(n):
        lo, h = i / n, 1 / (n * steps)
        # Simpson's rule over [i/n, (i+1)/n]
        w = density(lo) + density(lo + steps * h)
        w += sum((4 if k % 2 else 2) * density(lo + k * h) for k in range(1, steps))
        weights.append(w * h / 3)
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else math.inf
