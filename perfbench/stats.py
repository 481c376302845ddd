"""Order statistics and span arithmetic used by the benchmark.

Kept free of Spark and DuckDB so the rules can be unit-tested on their own.
"""

from __future__ import annotations

import math
from collections import defaultdict

# A percentile is only trusted when at least this many samples lie beyond
# it: p50 needs 20 samples, p90 needs 100.
MIN_TAIL = 10


def samples_needed(q: float) -> int:
    """Smallest sample count for which the q-quantile has MIN_TAIL samples
    beyond it."""
    return math.ceil(MIN_TAIL / (1.0 - q) - 1e-9)


def tail_ok(n: int, q: float) -> bool:
    return n >= samples_needed(q)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated q-quantile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def self_times(spans: list[tuple]) -> dict[int, float]:
    """Self time per span index: its duration minus the time its direct
    children cover. Each span is (name, start, end, parent, op); children
    of one parent never overlap (the client is single-threaded)."""
    child_time: dict[int, float] = defaultdict(float)
    for _name, start, end, parent, _op in spans:
        if parent is not None:
            child_time[parent] += end - start
    return {
        i: (s[2] - s[1]) - child_time[i] for i, s in enumerate(spans)
    }


def layer_totals(spans: list[tuple]) -> dict[str, dict[str, float]]:
    """Per span name: summed duration and summed self time, in seconds.
    A name nested in itself (a traced function calling another traced
    binding of the same function) counts its outermost span only for the
    duration, so recursion does not double-count wall time."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"total": 0.0, "self": 0.0, "count": 0}
    )
    for i, (name, start, end, parent, _op) in enumerate(spans):
        row = out[name]
        row["self"] += selfs[i]
        row["count"] += 1
        anc = parent
        nested = False
        while anc is not None:
            if spans[anc][0] == name:
                nested = True
                break
            anc = spans[anc][3]
        if not nested:
            row["total"] += end - start
    return dict(out)
