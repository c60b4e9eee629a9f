"""Arithmetic shared by the benchmark: medians, the tail rule, spreads
and span self time. Pure Python, so the tests need no Spark."""

from __future__ import annotations

import statistics
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

#: a tail percentile is only reported when this many samples lie beyond it
TAIL_BEYOND = 10


def median(xs: Sequence[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: Sequence[float]) -> Tuple[float, float, bool]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    beyond it, as ``(value, percentile, rule_met)``.

    With ``n`` sorted samples that is the ``(TAIL_BEYOND + 1)``-th
    largest, at percentile ``100 * (n - TAIL_BEYOND) / n``. A run with
    ``TAIL_BEYOND`` samples or fewer supports no such percentile; it
    reports its maximum with ``rule_met`` False."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= TAIL_BEYOND:
        return float(s[-1]), 100.0, False
    return float(s[n - TAIL_BEYOND - 1]), 100.0 * (n - TAIL_BEYOND) / n, True


def quartile_spread(xs: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(xs, n=4)``)."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def union_length(intervals: Iterable[Tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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


def covered(window: Tuple[float, float],
            intervals: Iterable[Tuple[float, float]]) -> float:
    """Length of ``window`` that the intervals cover."""
    lo, hi = window
    return union_length((max(s, lo), min(e, hi)) for s, e in intervals)


def self_times(spans: List[dict]) -> Dict[int, float]:
    """Per span id: its duration minus the part of it that its direct
    children cover. Children may overlap (concurrent fits), so the
    covered part is an interval union, never a plain sum."""
    kids: Dict[Optional[int], List[Tuple[float, float]]] = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {sp["id"]: (sp["end"] - sp["start"])
            - covered((sp["start"], sp["end"]), kids.get(sp["id"], []))
            for sp in spans}
