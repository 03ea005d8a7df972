"""The small arithmetic every report uses, kept apart so it can be tested."""

from __future__ import annotations

import statistics


def median(values) -> float:
    return float(statistics.median(values))


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median with ``statistics.quantiles(values, n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def ok_op_share(attempted: int, failed: int) -> float:
    """Share of attempted ops that completed and passed their check."""
    if attempted < 1:
        raise ValueError("no op was attempted")
    return (attempted - failed) / attempted


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the time its child spans cover.

    ``children`` are (start, end) pairs; overlapping children are covered
    once, and only the part inside [start, end] counts."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered
