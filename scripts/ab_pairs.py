#!/usr/bin/env python3
"""Alternating A/B pairs of the benchmark between two checkouts.

    python scripts/ab_pairs.py PARENT_DIR CHANGE_DIR --workload tool_calls_rw \\
        --seeds 1-10 --seconds 15

Runs ``perfbench/run.py`` in each checkout once per seed, one seed per
pair, alternating which side goes first (pair 1 parent first, pair 2
change first, ...), so drift in the machine's state falls on both sides.
Each run's last stdout line (the benchmark's JSON) is printed as it
lands, tagged with its pair, seed and side. At the end it prints, per
end-to-end metric, the median [Q1-Q3] of each side, the pairs the change
won (the direction is the metric's ``better`` in the parent's
BENCHMARK.json), and whether the gain rule holds: at least 10 pairs, the
change wins at least 9 in 10 of them, its median beats the parent's by
more than the parent's interquartile range, and it fails no more ops than
the parent. The checkouts are only read and run; nothing under
``perfbench/`` is edited.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec: str) -> list[int]:
    """``1-10`` or ``1,3,5`` (or a mix: ``1-3,7``)."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                          check=False)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{checkout}: run exited {proc.returncode}")
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]],
              better: dict[str, str]) -> list[str]:
    out = []
    failed = []
    for side in (0, 1):
        runs = [p[side] for p in pairs]
        failed.append(sum(r["failed"] for r in runs))
        out.append(f"{('parent', 'change')[side]}: "
                   f"{sum(r['correct'] for r in runs)}/{len(runs)} correct, "
                   f"{failed[side]} failed ops")
    for name in pairs[0][0]["metrics"]:
        sign = 1 if better.get(name, "lower") == "lower" else -1
        parent = [p[0]["metrics"][name]["value"] for p in pairs]
        change = [p[1]["metrics"][name]["value"] for p in pairs]
        (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(parent), quartiles(change)
        wins = sum(sign * (c - p) < 0 for p, c in zip(parent, change))
        gain = sign * (pmed - cmed)
        holds = (len(pairs) >= 10 and wins >= 0.9 * len(pairs)
                 and gain > pq3 - pq1 and failed[1] <= failed[0])
        unit = pairs[0][0]["metrics"][name]["unit"]
        out.append(f"{name} ({unit}): parent {pmed:.1f} [{pq1:.1f}-{pq3:.1f}] -> "
                    f"change {cmed:.1f} [{cq1:.1f}-{cq3:.1f}] "
                    f"({100 * (cmed - pmed) / pmed:+.1f}%), change better "
                    f"{wins}/{len(pairs)}, gap {gain:.1f} vs parent IQR "
                    f"{pq3 - pq1:.1f}: gain rule {'holds' if holds else 'does not hold'}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 2,4,6")
    ap.add_argument("--seconds", type=float, default=15)
    args = ap.parse_args(argv)

    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    pairs = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            got[side] = run_once(getattr(args, side), args.workload, seed,
                                 args.seconds)
            record = {"pair": i + 1, "seed": seed, "side": side,
                      "workload": args.workload, **got[side]}
            print(json.dumps(record), flush=True)
        pairs.append((got["parent"], got["change"]))
    print("\n".join(summarize(pairs, better)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
