"""Accounting primitives: interval unions, the per-op layer split (self
time per span) and the tail-percentile rule. Pure functions, covered by
`test_stats.py`.
"""
import math
import statistics


def union(intervals):
    """Total length covered by (start, end) intervals; overlap counts once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    """Intervals cut to the window [lo, hi]; empty ones dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def layer_split(op, spans, execs):
    """Split an op's wall time into layers, each instant counted once.

    `op` is (start, end); `spans` are (name, start, end, depth) call spans
    inside it; `execs` are (start, end) Spark SQL executions. Each instant
    goes to the deepest span active then (the latest-started one on a
    tie), as `<name>` when no SQL execution runs and `<name>/exec` when
    one does; instants in no span go to `op` and `op/exec`. The parts sum
    to the op's wall time by construction, however executions overlap.
    """
    lo, hi = op
    cuts = {lo, hi}
    for _, s, e, _ in spans:
        cuts.update(t for t in (s, e) if lo < t < hi)
    for s, e in execs:
        cuts.update(t for t in (s, e) if lo < t < hi)
    cuts = sorted(cuts)
    parts = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        active = [(d, s, n) for n, s, e, d in spans if s <= mid < e]
        name = max(active)[2] if active else "op"
        if any(s <= mid < e for s, e in execs):
            name += "/exec"
        parts[name] = parts.get(name, 0.0) + (b - a)
    return parts


def tail_percentile(n):
    """The highest whole percentile with at least 10 of n samples beyond
    it (nearest-rank), or None when n < 11.
    """
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    while n - math.ceil(p * n / 100) < 10:
        p -= 1
    return p


def percentile(values, p):
    """Nearest-rank percentile p (0 < p <= 100) of values."""
    v = sorted(values)
    return v[max(0, math.ceil(p * len(v) / 100) - 1)]


def median(values):
    return statistics.median(values) if values else None
