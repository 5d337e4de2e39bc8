"""Pure helpers for the benchmark's figures (no Spark, unit-tested)."""

from __future__ import annotations

import math
import statistics


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile p with at least ``beyond`` samples
    strictly above it among ``n`` samples, or None when no percentile
    has that support.  With the nearest-rank rule, percentile p sits at
    rank ceil(p/100·n), which leaves n − ceil(p/100·n) samples above."""
    for p in range(99, 49, -1):
        if n - math.ceil(p / 100.0 * n) >= beyond:
            return p
    return None


def percentile(xs, p: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    if not s:
        return 0.0
    return float(s[max(math.ceil(p / 100.0 * len(s)), 1) - 1])


def tail(xs, beyond: int = 10) -> tuple[int | None, float | None]:
    """(percentile, value) of the highest supported tail, or (None, None)."""
    p = tail_percentile(len(xs), beyond)
    return (p, percentile(xs, p)) if p is not None else (None, None)


def error_rate(outcomes) -> tuple[int, int, float]:
    """(attempted, failed, ratio) over operation outcomes, where an
    outcome is truthy for success.  A failed output check is one more
    failed outcome, so callers pass op results and check results in
    one sequence."""
    outcomes = list(outcomes)
    failed = sum(1 for o in outcomes if not o)
    return len(outcomes), failed, (failed / len(outcomes) if outcomes else 0.0)


def interval_union_ms(intervals) -> float:
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]
