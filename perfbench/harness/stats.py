"""Pure statistics over run records: percentiles, interval unions, span self time."""
import math
import statistics

# Percentiles considered for a timing's tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values):
    return statistics.median(values)


def _rank(n, q):
    # rounded first so that e.g. 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(q * n / 100.0, 9)))


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q% of
    the samples at or below it."""
    xs = sorted(values)
    return xs[_rank(len(xs), q) - 1]


def quantile(values, q):
    """Linearly interpolated percentile (numpy's default, Excel's
    PERCENTILE.INC): with few samples it weighs the two around rank
    q% rather than returning one of them, so a high percentile of a
    handful of samples is not simply their maximum."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n, q):
    """How many of n samples lie beyond the nearest-rank q-th percentile."""
    return n - _rank(n, q)


def tail(values, min_beyond=10):
    """The highest percentile of TAIL_LADDER with at least `min_beyond`
    samples beyond it, as (q, value); None when even the median lacks them."""
    for q in TAIL_LADDER:
        if beyond(len(values), q) >= min_beyond:
            return q, percentile(values, q)
    return None


def summary(values):
    """Median, the supported tail percentile and the sample count of a timing."""
    t = tail(values)
    return {"median": median(values), "n": len(values),
            "tail_pct": t[0] if t else None, "tail": t[1] if t else None}


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by the (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children's intervals cover."""
    return (end - start) - union_length(children, start, end)


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
