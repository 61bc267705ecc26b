"""Arithmetic of the benchmark: percentiles, span self times, prefix
ablation self times and failure accounting. Pure functions, unit-tested in
perfbench/tests.
"""

import math
import statistics

MIN_BEYOND = 10  # samples that must lie beyond a reported tail percentile
MAX_TAIL_PCT = 90


def percentile(samples, pct):
    """Nearest-rank percentile: the smallest sample with at least `pct`% of
    the samples at or below it."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(pct * len(xs) / 100))
    return xs[rank - 1]


def tail_pct(n):
    """The highest whole percentile from p50 to p90 with at least
    MIN_BEYOND of `n` samples beyond it; None when n is too small for p50."""
    for pct in range(MAX_TAIL_PCT, 49, -1):
        if n - math.ceil(pct * n / 100) >= MIN_BEYOND:
            return pct
    return None


def tail(samples):
    """(percentile, value) of the tail: the tail_pct percentile, or the
    slowest sample (reported as p100) when there are too few samples."""
    pct = tail_pct(len(samples))
    if pct is None:
        return 100, max(samples)
    return pct, percentile(samples, pct)


def median(samples):
    return statistics.median(samples)


def best_of(repeats):
    """Per-operation best over k aligned repeats of the same operations:
    the minimum of each position, skipping failed (None) samples; a
    position that failed in every repeat is dropped."""
    out = []
    for samples in zip(*repeats):
        ok = [x for x in samples if x is not None]
        if ok:
            out.append(min(ok))
    return out


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
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


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    covered by its children. Returns {span id: self time}, in span units."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def self_time_by_name(spans):
    """Sum of self times per span name."""
    own = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return out


def prefix_self_times(prefix_times):
    """Self time of each stage from cumulative-prefix timings: the ordered
    (name, seconds) pairs time scan, scan+stage2, ...; a stage's self time
    is its prefix minus the one before it."""
    out, prev = {}, 0.0
    for name, t in prefix_times:
        out[name] = t - prev
        prev = t
    return out


def account(outcomes):
    """(attempted, failed, error_rate) over operation outcomes (True = ok)."""
    outcomes = list(outcomes)
    attempted = len(outcomes)
    failed = sum(1 for ok in outcomes if not ok)
    return attempted, failed, (failed / attempted if attempted else 1.0)
