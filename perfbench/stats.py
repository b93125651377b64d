"""Pure helpers of the benchmark: medians, the tail-percentile rule, seeded
pass orders and span self times. No I/O; covered by test_stats.py."""
import math
import random
import statistics

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def nearest_rank(sorted_values, pct):
    """The nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    rank = max(1, math.ceil(pct / 100.0 * len(sorted_values)))
    return sorted_values[rank - 1], rank


def tail(samples, fallback, beyond=TAIL_BEYOND):
    """The highest of TAIL_PERCENTILES that has at least ``beyond`` samples
    ranked above it. Returns (value, percentile, sample count). With fewer
    than 2 * beyond samples no percentile qualifies; ``fallback`` is
    returned then, as percentile 100."""
    xs = sorted(samples)
    for pct in TAIL_PERCENTILES:
        if not xs:
            break
        value, rank = nearest_rank(xs, pct)
        if len(xs) - rank >= beyond:
            return value, pct, len(xs)
    return fallback, 100.0, len(xs)


def pass_order(names, seed, pass_index):
    """The order of ``names`` in one pass: a permutation fixed by the seed
    and the pass number."""
    order = list(names)
    random.Random(seed * 1_000_003 + pass_index).shuffle(order)
    return order


def covered(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover; children
    may overlap each other and stick out of the span."""
    return (end - start) - covered(children, start, end)


def contains(outer, inner, slack=1.0):
    """Whether span ``inner`` lies inside ``outer`` (both (start, end)).
    Spark reports job and stage times in whole milliseconds, so a slack of
    one millisecond is allowed at each end."""
    return outer[0] - slack <= inner[0] and inner[1] <= outer[1] + slack
