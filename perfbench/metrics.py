"""Metric arithmetic shared by the benchmark and its tests.

Pure functions over lists of numbers and span records: no Spark, no I/O.
"""

from __future__ import annotations

import math
import statistics
from fractions import Fraction

# candidate tail percentiles, highest first; the reported tail is the highest
# one that still leaves at least MIN_BEYOND samples strictly above its rank
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def _rank(pct: float, n: int) -> int:
    # exact decimal arithmetic: 99.9 / 100 * 10000 must be 9990, not 9990.000...2
    return max(1, math.ceil(Fraction(str(pct)) * n / 100))


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest value with at least pct% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    return s[_rank(pct, len(s)) - 1]


def tail_percentile(n: int) -> float:
    """The highest candidate percentile with >= MIN_BEYOND samples beyond it.

    Falls back to the median (50) when the sample is too small for any
    candidate; callers report the percentile used next to the value."""
    for pct in TAIL_CANDIDATES:
        if n - _rank(pct, n) >= MIN_BEYOND:
            return pct
    return 50.0


def latency_summary(values: list[float]) -> dict:
    """Median, tail (by the >= MIN_BEYOND rule), the tail's percentile and n."""
    pct = tail_percentile(len(values))
    return {
        "p50": statistics.median(values),
        "tail": nearest_rank(values, pct) if pct != 50.0 else statistics.median(values),
        "tail_pct": pct,
        "n": len(values),
    }


def failed_frac(attempted: int, failed: int) -> float:
    """Operations that raised or returned a wrong result, over attempted."""
    if attempted <= 0:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of its interval that its direct
    children cover (children clipped to the parent's interval).

    A span is a dict with `start`, `end` and `parent` (index into `spans`, or
    None)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        p = sp["parent"]
        if p is not None:
            par = spans[p]
            s, e = max(sp["start"], par["start"]), min(sp["end"], par["end"])
            if e > s:
                children.setdefault(p, []).append((s, e))
    return [
        (sp["end"] - sp["start"]) - _covered(children.get(i, []))
        for i, sp in enumerate(spans)
    ]
