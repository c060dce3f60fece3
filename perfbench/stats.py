"""Summary statistics shared by the benchmark's metrics."""
import math
import statistics

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else None


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def geomean(xs):
    return statistics.geometric_mean(xs) if xs else None


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile that still has `beyond` samples above it.

    Returns (value, percentile, samples). With n samples sorted ascending the
    value is the one at 1-based rank n - beyond, and its percentile is
    100 * rank / n. With `beyond` samples or fewer there is no such
    percentile and the value and percentile are None.
    """
    n = len(xs)
    if n <= beyond:
        return None, None, n
    rank = n - beyond
    return sorted(xs)[rank - 1], 100.0 * rank / n, n


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
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


def self_times(spans):
    """Span id -> its duration minus the part its child spans cover.

    `spans` are dicts with id, parent, start and end.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}
