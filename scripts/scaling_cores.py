#!/usr/bin/env python
"""Core-scaling study (round-12 verdict item 8): the sf0.1 headline suite
is per-query job-overhead-bound (the driver's 8-core run BEAT its 32-core
run), so "parallelizes" has to be measured where there is enough work per
query — the sf~1 corpus (/tmp/sfbig, synthesized by scaling_sf1.py). This
study times the most expensive headline queries there under 8 vs 32 cores
(fresh subprocess per core count — master is fixed per JVM) with the
bench's construction+execution timing, and writes the ratios into
SCALING.md. A ratio meaningfully above 1 (8-core slower) is the
parallelism evidence; ratios ≈ 1 name queries whose work at this scale is
still dominated by serial/driver phases and get a reason or a fix.

Usage:
    python scripts/scaling_cores.py            # full study -> SCALING.md
    python scripts/scaling_cores.py --worker 8 # internal
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

BIG = os.environ.get("SPARK_GRAFT_SFBIG_DIR", "/tmp/sfbig")
CORES = (32, 8)
SAMPLES = 2

# The most expensive headline queries at sf~1 across the round-13 tiers:
# dedup/fingerprint verify pipelines, the unigram trainer, the multimodal
# codec, graph iteration, and one Arrow-kernel op as the vectorized
# reference.
QUERIES = (
    "jaccard_prefix_filter_pairs",
    "semdedup_drop_candidates",
    "idf_cosine_dup_pairs",
    "containment_dup_pairs",
    "minhash_near_dup_pairs",
    "unigram_encode_stats",
    "image_jpeg_420_stats",
    "hits_hub_authority",
    "local_clustering_coefficient",
    "char_entropy_scores",
)


def worker(cpus: int) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(cpus)
    from database_toolbox_spark.operators import all_queries
    from database_toolbox_spark.session import get_spark, measured, noop_write, warm_up

    spark = get_spark(app_name=f"core-scaling-{cpus}")
    queries = all_queries()
    warm_up(spark, BIG)

    out = {}
    for name in QUERIES:
        best = float("inf")
        for _ in range(SAMPLES):
            with measured(spark, name) as run:
                run.execute(noop_write, run.build(queries[name], spark, BIG))
            best = min(best, run.seconds)
        out[name] = round(best, 3)
        print(f"cores={cpus} {name}: {out[name]}", flush=True)
    print("CORES_JSON " + json.dumps(out), flush=True)
    spark.stop()


def main() -> int:
    if "--worker" in sys.argv:
        worker(int(sys.argv[sys.argv.index("--worker") + 1]))
        return 0
    if not os.path.exists(f"{BIG}/documents.parquet"):
        print(
            f"{BIG} missing — run scripts/scaling_sf1.py first",
            file=sys.stderr,
        )
        return 2
    results: dict[int, dict[str, float]] = {}
    for c in CORES:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", str(c)],
            capture_output=True,
            text=True,
            timeout=3600,
        )
        lines = [
            ln for ln in p.stdout.splitlines() if ln.startswith("CORES_JSON")
        ]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
            return 1
        results[c] = json.loads(lines[-1][len("CORES_JSON "):])

    hi, lo = CORES
    body = [
        "",
        f"Construction+execution per query (bench methodology, min of "
        f"{SAMPLES}) at the sf~1 corpus under `local[{hi}]` vs "
        f"`local[{lo}]` (fresh session per core count; "
        f"shuffle.partitions = core count). ratio = {lo}-core / "
        f"{hi}-core: >1 means extra cores are buying wall clock.",
        "",
        f"| query | {hi} cores (s) | {lo} cores (s) | ratio |",
        "|---|---|---|---|",
    ]
    for name in QUERIES:
        a, b = results[hi][name], results[lo][name]
        body.append(f"| {name} | {a} | {b} | {round(b / max(a, 1e-9), 2)} |")
    ta, tb = (sum(results[c].values()) for c in CORES)
    body.append(
        f"| **total** | **{round(ta, 2)}** | **{round(tb, 2)}** | "
        f"**{round(tb / max(ta, 1e-9), 2)}** |"
    )
    from _scaling_md import replace_section

    replace_section(
        os.path.join(REPO, "SCALING.md"),
        "## Core scaling at sf~1 (8 vs 32 cores)",
        body,
    )
    print(json.dumps({c: results[c] for c in CORES}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
