"""Order statistics and interval arithmetic used by the benchmark."""
import math
import statistics


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def percentile(xs, p):
    """Linear-interpolated percentile ``p`` in [0, 100] (the 'inclusive'
    method: the minimum is p0 and the maximum p100)."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by the ``(start, end)`` intervals, clipped to
    ``[lo, hi]``; overlaps count once."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals
                     if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def busy_and_gap(tasks, window, cores):
    """Executor busy time, busy share of the window's core-time, and the
    driver gap (window time with no task running) for task intervals
    ``[(start, end)]`` within ``window = (lo, hi)``."""
    lo, hi = window
    wall = hi - lo
    busy = sum(min(e, hi) - max(s, lo) for s, e in tasks
               if min(e, hi) > max(s, lo))
    gap = wall - union_length(tasks, lo, hi)
    return busy, busy / (wall * cores) if wall > 0 else 0.0, gap
