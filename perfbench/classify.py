#!/usr/bin/env python3
"""Sort bench.py's headline queries into the floor and heavy lists, and pin
the batch workload's queries from them.

    python3 perfbench/classify.py > perfbench/workloads.json

One traced run over every ``bench.HEADLINE`` query, in the benchmark's
session set-up. A query is *heavy* when its build pins at least one
checkpoint (``session.materialize``) or its executed plan holds a Python
evaluation node (pandas/Arrow UDFs, mapInPandas, Python UDTFs); otherwise
it is *floor*. Each query is also checked against its DuckDB oracle at the
benchmark's scale; if any query fails it, nothing is printed and the exit
code is 1. Its build+execute time (``sec``) is recorded, since ``pin`` reads
it. Re-run this when the headline list or an operator changes shape.
"""

from __future__ import annotations

import json
import random
import re
import sys
import time

import run

PY_NODE = re.compile(r"\b\w*(?:Python|Pandas)\w*\b")

# The batch workload's pinned list (``pin``): the two floor queries ROADMAP
# item 3 profiles, plus a seeded sample of the other sub-second floor
# queries (item 3's per-query floor), plus one query per heavy tier.
FLOOR_NAMED = ("pricing_summary", "regional_revenue")
FLOOR_MAX_SEC = 1.0
FLOOR_SAMPLE = 14
PIN_SEED = 0
# ROADMAP item 4: the six slowest graph queries.
GRAPH = ("link_prediction_scores", "local_clustering_coefficient",
         "personalized_pagerank", "sssp_weighted_hops",
         "label_propagation_communities", "hits_hub_authority")
TIERS = ("graph", "dedup", "unigram", "codecs")


def tier(name: str, row: dict) -> str | None:
    """The heavy tier of a heavy query, or None for the rest. SemDeDup
    (``semdedup_*``) is one of the dedup methods."""
    if name in GRAPH:
        return "graph"
    if name.startswith("unigram"):
        return "unigram"
    if "dup" in name:
        return "dedup"
    if row["python_nodes"]:
        return "codecs"
    return None


def pin(membership: dict) -> dict:
    """The pinned batch lists, 20 queries so one pass gives p50 its 20
    samples. Floor: the named floor queries plus FLOOR_SAMPLE others drawn
    with ``random.Random(PIN_SEED)`` from the sorted floor queries whose
    classify-run ``sec`` is under FLOOR_MAX_SEC. Heavy: per tier, the
    member with the smallest ``sec``, so that a pass stays near 20 s."""
    rest = [q for q, sec in sorted(membership["floor"].items())
            if q not in FLOOR_NAMED and sec < FLOOR_MAX_SEC]
    floor = list(FLOOR_NAMED) + random.Random(PIN_SEED).sample(rest, FLOOR_SAMPLE)
    members: dict[str, list] = {t: [] for t in TIERS}
    for name, row in sorted(membership["heavy"].items()):
        t = tier(name, row)
        if t is not None:
            members[t].append((row["sec"], name))
    return {"floor": floor, "heavy": [min(members[t])[1] for t in TIERS]}


def main() -> int:
    run.prepare_env()
    import bench
    import gen
    import layers
    from checks import Checker
    from database_toolbox_spark import session
    from database_toolbox_spark.operators import all_oracles, all_queries

    layers.install()
    spark, _ = run.set_up()
    checker = Checker(run.ROOT, run.SF_DIR, gen.domains(run.SF_DIR), False)
    queries, oracles = all_queries(), all_oracles()
    tracer = layers.TRACER
    membership: dict = {"floor": {}, "heavy": {}}
    bad = []
    try:
        for i, name in enumerate(bench.HEADLINE):
            group = f"classify-{i}"
            spark.sparkContext.setJobGroup(group, name)
            tracer.enabled, tracer.spans = True, []
            t0 = time.perf_counter()
            df = queries[name](spark, run.SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            sec = round(time.perf_counter() - t0, 3)
            tracer.enabled = False
            checkpoints = sum(s[0] == "session.materialize" for s in tracer.spans)
            plan = df._jdf.queryExecution().executedPlan().toString()
            py_nodes = sorted(set(PY_NODE.findall(plan)))
            try:
                err = checker.query(name, oracles[name], df.toPandas())
            except Exception as exc:  # noqa: BLE001 - reported below
                err = f"{type(exc).__name__}: {exc}"[:200]
            if err is not None:
                bad.append(f"{name}: {err}")
            session.release_materialized(spark)
            if checkpoints or py_nodes:
                membership["heavy"][name] = {
                    "sec": sec, "checkpoints": checkpoints,
                    "python_nodes": py_nodes}
            else:
                membership["floor"][name] = sec
            print(f"{name}: {sec} s, {checkpoints} checkpoints, {py_nodes}",
                  file=sys.stderr, flush=True)
    finally:
        checker.close()
        run.shut_down(spark)
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    print(json.dumps({"batch": pin(membership), "membership": membership},
                     indent=1))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, run.ROOT)
    sys.exit(main())
