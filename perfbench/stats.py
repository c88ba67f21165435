"""Pure helpers for the benchmark: order statistics, the tail rule,
interval unions and span self time.

Nothing here touches Spark, the file system or the clock, so every
function is unit-tested in ``perfbench/tests``.
"""

from __future__ import annotations

import math
import statistics


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them; a
    single value is its own quartiles."""
    vals = list(values)
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def geomean(values):
    """Geometric mean of positive values."""
    vals = list(values)
    if not vals or min(vals) <= 0:
        raise ValueError("geomean needs at least one value, all positive")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def tail_percentile(values, beyond=10):
    """The highest percentile of ``values`` that still has at least
    ``beyond`` samples above it: the sorted value at index n-beyond-1.

    Returns (value, percentile, n) with percentile in 0..100, or None
    when there are ``beyond`` samples or fewer, where no percentile
    qualifies."""
    vals = sorted(values)
    n = len(vals)
    if n <= beyond:
        return None
    k = n - beyond - 1
    return vals[k], 100.0 * (k + 1) / n, n


def tail_ratio(samples_by_op, beyond=10):
    """Divide each op sample by that op's median, pool the ratios and
    apply :func:`tail_percentile` to them."""
    ratios = []
    for samples in samples_by_op.values():
        m = median(samples)
        ratios.extend(s / m for s in samples)
    return tail_percentile(ratios, beyond)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by ``intervals`` [(start, end)], each first
    clipped to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
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


def driver_gap(window, stage_intervals):
    """(gap_s, critical_path_s) of one op: the critical path is the part
    of the op window during which at least one stage ran; the gap is the
    rest, the time the op spent on the driver (Python plan building,
    py4j, Catalyst, AQE re-plans, job submission)."""
    lo, hi = window
    busy = union_length(stage_intervals, lo, hi)
    return (hi - lo) - busy, busy


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - union_length(children, lo, hi)
