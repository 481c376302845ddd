"""Tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from classify import GRAPH, pin  # noqa: E402
from stats import layer_totals, percentile, samples_needed, self_times, tail_ok  # noqa: E402

SF_DIR = os.path.join(HERE, "data", "sf0.1")


def test_percentile_needs_ten_samples_beyond_it():
    assert samples_needed(0.5) == 20
    assert samples_needed(0.9) == 100
    assert samples_needed(0.99) == 1000
    assert not tail_ok(19, 0.5) and tail_ok(20, 0.5)
    assert not tail_ok(99, 0.9) and tail_ok(100, 0.9)


def test_percentile_interpolates_like_numpy():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 0.5) == pytest.approx(50.5)
    assert percentile(xs, 0.9) == pytest.approx(90.1)
    assert percentile([3.0], 0.9) == 3.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_self_time_subtracts_direct_children_only():
    # op [0, 10] > server [1, 9] > registry [2, 8] > (gate [2, 3], content [4, 7])
    spans = [
        ("op", 0.0, 10.0, None, 0),
        ("server", 1.0, 9.0, 0, 0),
        ("registry.call_tool", 2.0, 8.0, 1, 0),
        ("gate.check", 2.0, 3.0, 2, 0),
        ("executor.content", 4.0, 7.0, 2, 0),
    ]
    assert self_times(spans) == pytest.approx({0: 2.0, 1: 2.0, 2: 2.0, 3: 1.0, 4: 3.0})
    table = layer_totals(spans)
    assert table["registry.call_tool"]["total"] == pytest.approx(6.0)
    assert table["registry.call_tool"]["self"] == pytest.approx(2.0)


def test_recursive_span_counts_wall_time_once():
    # load_tables -> load_table -> load_table (a wrapped binding calling itself)
    spans = [
        ("session.load_table", 0.0, 4.0, None, 0),
        ("session.load_table", 1.0, 3.0, 0, 0),
    ]
    row = layer_totals(spans)["session.load_table"]
    assert row["total"] == pytest.approx(4.0)
    assert row["self"] == pytest.approx(4.0)
    assert row["count"] == 2


@pytest.fixture(scope="module")
def domains():
    return gen.domains(SF_DIR)


def test_same_seed_same_request_stream(domains):
    for key in ("warm", "0", "1"):
        a = gen.stream_bytes(gen.tool_ops(7, key, domains))
        b = gen.stream_bytes(gen.tool_ops(7, key, gen.domains(SF_DIR)))
        assert a == b
    assert gen.stream_bytes(gen.tool_ops(7, "0", domains)) != gen.stream_bytes(
        gen.tool_ops(8, "0", domains))
    q = ["a", "b", "c", "d"]
    assert gen.batch_ops(q, 3, "0") == gen.batch_ops(q, 3, "0")


def test_tool_pass_mix_is_fixed(domains):
    for seed in range(5):
        ops = gen.tool_ops(seed, "0", domains)
        labels = [op["label"] for op in ops]
        assert len(ops) == sum(n for _, n in gen.READ_MIX) + 5 + 3
        assert labels.count("sql.denied") == 3
        kinds = [op["expect"]["kind"] for op in ops]
        # writes precede the read-your-writes check and the counts
        assert max(i for i, k in enumerate(kinds) if k == "write") < len(ops) - 3
        assert labels[-3] == "docstore.read_your_writes"


def test_predicted_counts_follow_the_writes(domains):
    ops = gen.tool_ops(11, "0", domains)
    adds = {"customer": 0, "orders": 0}
    deletes = {"customer": 0, "orders": 0}
    for op in ops:
        for m in op["expect"].get("mirror", ()):
            if m[0] == "insert":
                adds[m[1]] += 1
            elif m[0] == "delete":
                deletes[m[1]] += 1
    counts = {op["args"]["collection"]: op["expect"]["count"]
              for op in ops if op["expect"]["kind"] == "count"}
    for coll, n in counts.items():
        assert n == domains["counts"][coll] + adds[coll] - deletes[coll]


def test_pinned_batch_lists_follow_the_rule():
    with open(os.path.join(HERE, "workloads.json")) as f:
        pinned = json.load(f)
    batch = pinned["batch"]
    assert pin(pinned["membership"]) == batch
    queries = batch["floor"] + batch["heavy"]
    assert len(set(queries)) == samples_needed(0.5)
    assert set(batch["floor"]) <= set(pinned["membership"]["floor"])
    assert set(batch["heavy"]) <= set(pinned["membership"]["heavy"])
    assert set(batch["heavy"]) & set(GRAPH)
