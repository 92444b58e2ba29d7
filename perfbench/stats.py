"""Reductions the benchmark applies to one run's raw record: percentiles,
span self time, driver-only time, output digests."""

import math


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of [start, end] intervals, each clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_only_ms(start_ms, end_ms, job_spans):
    """Time of the op window [start_ms, end_ms] with no Spark job running."""
    return (end_ms - start_ms) - union_ms(job_spans, start_ms, end_ms)


def self_times_ns(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. Spans are dicts with op, id, parent, name,
    start_ns and end_ns; returns {(op, id): ns}."""
    children = {}
    for s in spans:
        if s["parent"] >= 0:
            children.setdefault((s["op"], s["parent"]), []).append(
                (s["start_ns"], s["end_ns"]))
    return {
        (s["op"], s["id"]): (s["end_ns"] - s["start_ns"]) - union_ms(
            children.get((s["op"], s["id"]), []), s["start_ns"], s["end_ns"])
        for s in spans
    }


def digest_mismatches(got, stored):
    """Positions where the run's output digests differ from the stored ones.
    A run's check set may be shorter than the stored list (a traced run
    checks fewer ops); a check op with no stored digest is a mismatch."""
    return [i for i, d in enumerate(got) if i >= len(stored) or d != stored[i]]


def trace_overhead(ops, spans, extra):
    """Traced time over untraced time of the same ops, minus 1. The traced
    time leaves out the spans named `extra`: work the traced composition
    runs that the facade call does not."""
    ids = {o["id"] for o in ops}
    extra_ns = sum(s["end_ns"] - s["start_ns"] for s in spans
                   if s["name"] == extra and s["op"] in ids)
    untraced = sum(o["ns"] for o in ops)
    return (sum(o["traced_ns"] for o in ops) - extra_ns) / untraced - 1.0
