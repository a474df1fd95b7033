"""Statistics shared by the benchmark's metrics; tested in tests/test_stats.py."""
import math
import statistics

# Percentiles the tail metric may report, lowest first.
LADDER = (50, 75, 90, 95, 99, 99.9)


def nearest_rank(sorted_values, p):
    """The p-th percentile by the nearest-rank rule, with its 1-based rank."""
    rank = max(1, math.ceil(p / 100 * len(sorted_values)))
    return sorted_values[rank - 1], rank


def tail_percentile(values, min_beyond=10):
    """The highest percentile of LADDER that has at least `min_beyond`
    samples above its rank. Returns (percentile, value, samples beyond).
    With fewer than 2 * min_beyond samples no percentile qualifies, and
    the median is returned, with the samples above it."""
    s = sorted(values)
    best = None
    for p in LADDER:
        v, rank = nearest_rank(s, p)
        if len(s) - rank >= min_beyond:
            best = (p, v, len(s) - rank)
    if best is None:
        best = (50, statistics.median(s), len(s) // 2)
    return best


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children if e > start and s < end]
    return (end - start) - union_length(clipped)


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, as statistics.quantiles(values, n=4) gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
