"""Statistics the benchmark reports and the rule a claimed gain must meet."""
import statistics


def percentile(values, p):
    """The p-th percentile (0-100) of `values`, interpolating linearly
    between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n, candidates=(99, 90, 75, 50)):
    """The highest candidate percentile with at least ten of `n` samples
    beyond it, or None when even the median has fewer."""
    for p in candidates:
        if n * (100 - p) / 100.0 >= 10:
            return p
    return None


def quartiles(values):
    """(Q1, median, Q3) as `statistics.quantiles(values, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile range as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def is_gain(parent, change, better="lower"):
    """True when `change` beats `parent` on at least nine tenths of the
    paired runs (ties count for neither side) and the medians differ by
    more than the parent's interquartile range."""
    if len(parent) != len(change) or not parent:
        raise ValueError("paired runs need equal, non-zero counts")
    sign = -1 if better == "lower" else 1
    wins = sum(1 for a, b in zip(parent, change) if sign * (b - a) > 0)
    q1, _, q3 = quartiles(parent)
    gap = sign * (statistics.median(change) - statistics.median(parent))
    return wins >= 0.9 * len(parent) and gap > q3 - q1
