"""Pure helpers of the benchmark: percentiles, means, span self time, and
the metric-name rule. Tested by perfbench/test_perfbench.py."""
import math
import re

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def valid_metric_name(name):
    return bool(METRIC_NAME.fullmatch(name))


def percentile(values, p):
    """(value, n): the p-th percentile (0..100) of values by linear
    interpolation between closest ranks (numpy's default), with the
    sample count. An empty sample gives (0.0, 0)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0
    if n == 1:
        return float(xs[0]), 1
    rank = (n - 1) * p / 100.0
    lo = int(rank)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo), n


def median(values):
    return percentile(values, 50)[0]


def geomean(values):
    """Geometric mean of positive values; 0.0 for an empty sample."""
    if not values:
        return 0.0
    return math.exp(sum(math.log(v) for v in values) / len(values))


def covered(intervals, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    iv = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_s is None or s > cur_e:
            if cur_s is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_s is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self time}: a span's duration minus the part of its
    interval that its children cover (overlapping children count once).
    Spans are dicts with id, parent, start, end."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def descendants(spans, roots):
    """The spans under (and including) the span ids in roots."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [s for s in spans if s["id"] in roots]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out
