"""Metric math for the benchmark: medians, geometric means, the tail ratio,
span self time and the quartile spread. Pure functions, no I/O."""
import math
import statistics
from collections import defaultdict

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail percentile


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def geomean(xs):
    xs = list(xs)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail_ratio(samples):
    """samples: [(query, seconds)] over all timed executions.

    Each execution time is divided by its own query's median; the result is
    the highest nearest-rank percentile of those ratios that still has
    TAIL_BEYOND samples above it. Returns (ratio, percentile, sample_count).
    """
    by_q = defaultdict(list)
    for q, t in samples:
        by_q[q].append(t)
    meds = {q: median(ts) for q, ts in by_q.items()}
    ratios = sorted(t / meds[q] for q, t in samples)
    n = len(ratios)
    if n <= TAIL_BEYOND:
        raise ValueError("tail needs more than %d samples, got %d" % (TAIL_BEYOND, n))
    rank = n - TAIL_BEYOND  # 1-based nearest rank; n - rank samples lie beyond
    return ratios[rank - 1], 100.0 * rank / n, n


def query_medians(samples):
    by_q = defaultdict(list)
    for q, t in samples:
        by_q[q].append(t)
    return {q: median(ts) for q, ts in by_q.items()}


def covered(intervals):
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of it that its
    children cover. spans: dicts with id, parent, start_us, end_us."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        inner = [(max(lo, c["start_us"]), min(hi, c["end_us"])) for c in kids[s["id"]]]
        out[s["id"]] = (hi - lo) - covered([iv for iv in inner if iv[1] > iv[0]])
    return out


def quartile_spread(values):
    """(q3 - q1) / median, with quartiles as statistics.quantiles(n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
