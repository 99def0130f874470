"""Metric arithmetic: percentiles, geomeans, span trees and self times.

Kept free of I/O so tests/test_stats.py can pin every rule:

- a timing is reported as its median and the highest percentile that has
  at least ten samples beyond it (`tail`), with the sample count;
- an op's wall time is partitioned among the spans active inside it: each
  instant goes to the deepest active span (ties to the latest start), so
  the self times of an op's spans add up to its wall exactly;
- the driver gap of an op is its wall minus the union of its Spark stage
  spans; it equals the summed self time of every non-stage span.
"""
import math
import statistics

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs, beyond=TAIL_BEYOND):
    """(value, percentile, n) of the highest order statistic with at least
    `beyond` samples above it, or None when there are too few samples."""
    n = len(xs)
    if n < beyond + 1:
        return None
    s = sorted(xs)
    return s[n - beyond - 1], 100.0 * (n - beyond) / n, n


def geomean(xs):
    if not xs:
        return None
    if any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals):
    """Total length covered by a set of [t0, t1) intervals."""
    total, end = 0, None
    for t0, t1 in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or t0 > end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total


def clip(iv, lo, hi):
    return max(iv[0], lo), min(iv[1], hi)


def self_times(root, spans):
    """Partition the root interval among `spans`.

    `root` is (t0, t1); `spans` maps id -> dict(t0, t1, depth), each span
    already clipped to its parent. Every instant of the root goes to the
    deepest span active at it (ties: latest start, then highest id); time
    covered by no span goes to id None. Returns id -> self time, summing
    exactly to t1 - t0.
    """
    lo, hi = root
    cuts = {lo, hi}
    for s in spans.values():
        a, b = clip((s["t0"], s["t1"]), lo, hi)
        if b > a:
            cuts.update((a, b))
    cuts = sorted(cuts)
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        best, key = None, None
        for sid, s in spans.items():
            if s["t0"] <= a and s["t1"] >= b:
                k = (s["depth"], s["t0"], sid)
                if key is None or k > key:
                    best, key = sid, k
        out[best] = out.get(best, 0) + (b - a)
    return out


def driver_gap(wall, stage_intervals):
    """Op wall time not covered by any Spark stage."""
    return wall - union_length(stage_intervals)


def innermost(spans, t, slack=0):
    """Id of the deepest span whose [t0 - slack, t1 + slack] holds t."""
    best, key = None, None
    for sid, s in spans.items():
        if s["t0"] - slack <= t <= s["t1"] + slack:
            k = (s["depth"], s["t0"])
            if key is None or k > key:
                best, key = sid, k
    return best


def failed_frac(ops):
    """Share of attempted ops that threw or failed their output check."""
    if not ops:
        return None
    return sum(1 for o in ops if not o["ok"]) / len(ops)
