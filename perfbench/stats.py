"""Small statistics helpers shared by the metric code and the spread check."""
import math
import statistics


def percentile(values, q):
    """q-th percentile (0..100) with linear interpolation between the two
    nearest ranks; None for no values."""
    xs = sorted(values)
    if not xs:
        return None
    if not 0 <= q <= 100:
        raise ValueError(f"percentile out of range: {q}")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def ratio(num, den):
    """num / den, or 0.0 when the base is zero or missing (a workload that
    never exercises a layer reports 0 for it, not an error)."""
    if not den:
        return 0.0
    return num / den


def union_length(intervals, clip=None):
    """Total length covered by a set of [start, end] intervals, optionally
    clipped to the window `clip` = (start, end). Overlaps count once."""
    segs = []
    for a, b in intervals:
        if clip is not None:
            a, b = max(a, clip[0]), min(b, clip[1])
        if b > a:
            segs.append((a, b))
    segs.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median, with the quartiles of statistics.quantiles(values, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return ratio(q3 - q1, abs(q2))
