"""scripts/ab_pairs.py: seed lists and the gain rule over alternating
pairs (no benchmark run)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

import ab_pairs  # noqa: E402


def _run(op_p50_ms: float, wall_s: float, failed: int = 0) -> dict:
    return {"correct": True, "failed": failed, "metrics": {
        "op_p50_ms": {"value": op_p50_ms, "unit": "ms"},
        "wall_s": {"value": wall_s, "unit": "s"},
    }}


def test_parse_seeds():
    assert ab_pairs.parse_seeds("1-3,7") == [1, 2, 3, 7]
    assert ab_pairs.parse_seeds("5") == [5]


BETTER = {"op_p50_ms": "lower", "wall_s": "lower"}


def _pairs(n: int, change_failed: int = 0) -> list[tuple[dict, dict]]:
    # op_p50_ms: the change wins all but the last pair by 30 ms; wall_s:
    # it wins the same pairs by less than the parent's interquartile range
    pairs = [(_run(180 + i, 6 + i / 10), _run(150 + i, 5.95 + i / 10))
             for i in range(n - 1)]
    return pairs + [(_run(150, 6.0), _run(190, 7.0, change_failed))]


def _line(lines: list[str], metric: str) -> str:
    return next(x for x in lines if x.startswith(metric))


def test_gain_rule_needs_nine_of_ten_wins_and_a_gap_over_the_iqr():
    lines = ab_pairs.summarize(_pairs(10), BETTER)
    op, wall = _line(lines, "op_p50_ms"), _line(lines, "wall_s")
    assert "change better 9/10" in op and "rule holds" in op
    assert "change better 9/10" in wall and "does not hold" in wall
    assert lines[:2] == ["parent: 10/10 correct, 0 failed ops",
                         "change: 10/10 correct, 0 failed ops"]


def test_gain_rule_needs_ten_pairs():
    lines = ab_pairs.summarize(_pairs(10)[:9], BETTER)
    op = _line(lines, "op_p50_ms")
    assert "change better 9/9" in op and "does not hold" in op


def test_gain_rule_needs_no_more_failed_ops_than_the_parent():
    lines = ab_pairs.summarize(_pairs(10, change_failed=1), BETTER)
    assert lines[1] == "change: 10/10 correct, 1 failed ops"
    op = _line(lines, "op_p50_ms")
    assert "change better 9/10" in op and "does not hold" in op
