#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop client driving the served
tool loop or the operator batch in a single process.

    python3 perfbench/run.py --workload tool_calls_rw --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. It starts Spark through the program's
own ``get_spark`` with one core per available CPU over the sf0.1 tables in
``perfbench/data``, sets up from a cold JVM, runs one warm-up pass for
``tool_calls_rw`` (both count in ``setup_s``), then runs seeded op lists
pass after pass until ``--seconds`` of op time are used. Each op is sent
only after the previous one returned. Results are checked against DuckDB
off the clock. The last stdout line is
one JSON object; ``--trace 1`` reports per-layer numbers instead of the
end-to-end ones (see perfbench/NOTES.md). Everything it writes goes under
``.bench_build/perfbench`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.1")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
PINNED = os.path.join(HERE, "workloads.json")

WORKLOADS = ("tool_calls_rw", "batch")
# Session views a tool_calls_rw pass writes to.
WRITTEN = ("customer", "orders")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Point the program, Spark, the JVM and Python temp files at the
    checkout, before anything imports pyspark."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_GRAFT_SF_DIR=SF_DIR,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        TMPDIR=tmp,
        # no hsperfdata files: the JVMs would write them to /tmp
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        # The driver heap starts at the maximum get_spark configures, is
        # touched once at launch and never shrinks, so the JVM's resident
        # peak does not follow heap-sizing decisions run to run.
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            "-XX:InitialRAMPercentage=100 -XX:MaxHeapFreeRatio=100 "
            "-XX:+AlwaysPreTouch "
            "-XX:-UsePerfData' "
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
            "pyspark-shell"),
    )
    # the program's own defaults for heap size, persistence and row caps
    for var in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_DOCSTORE_PERSIST",
                "SPARK_GRAFT_MAX_TOOL_ROWS"):
        os.environ.pop(var, None)
    sys.path.insert(0, ROOT)


# --- session ----------------------------------------------------------------


def set_up():
    """Time the cold set-up: the JVM launch and session start in the
    program's ``get_spark``, table registration from parquet, one scan per
    table, and one job that starts a Python worker per core."""
    from database_toolbox_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(app_name="perfbench")
    for df in session.load_tables(spark, SF_DIR, replace=True).values():
        df.limit(1).write.mode("overwrite").format("noop").save()
    n = cores()
    spark.sparkContext.parallelize(range(n), n).map(abs).count()
    return spark, time.perf_counter() - t0


def shut_down(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            proc.wait(timeout=60)


# --- ops --------------------------------------------------------------------


class Workload:
    """How one workload builds its op lists, runs, checks and resets."""

    def __init__(self, name: str, seed: int, spark, checker, domains) -> None:
        self.name, self.seed, self.spark = name, seed, spark
        self.checker, self.domains = checker, domains
        self.batch = name == "batch"
        # A served tool loop is long-lived, so its calls are measured warm;
        # a batch job runs each query once per session and pays the first
        # run's compilation every time, so batch ops are measured cold.
        self.warms_up = not self.batch
        if self.batch:
            from database_toolbox_spark.operators import all_oracles, all_queries

            with open(PINNED) as f:
                pinned = json.load(f)["batch"]
            self.pinned = pinned["floor"] + pinned["heavy"]
            self.queries, self.oracles = all_queries(), all_oracles()

    def ops(self, pass_key: str) -> list[dict]:
        import gen

        if self.batch:
            return gen.batch_ops(self.pinned, self.seed, pass_key)
        return gen.tool_ops(self.seed, pass_key, self.domains)

    def reset(self) -> None:
        """Start-of-pass state: tables registered from parquet (dropping
        earlier passes' write overlays), session writes opted in."""
        from database_toolbox_spark import document_store, session

        if not self.batch:
            self.spark.conf.set(document_store.WRITES_CONF, "session")
            session.load_tables(self.spark, SF_DIR, replace=True)
            self.checker.reset()

    def run(self, i: int, op: dict):
        """The timed region of one op; returns what the check needs."""
        from database_toolbox_spark import server

        if self.batch:
            from layers import TRACER

            with TRACER.span("operators.build"):
                df = self.queries[op["query"]](self.spark, SF_DIR)
            with TRACER.span("spark.execute"):
                df.write.mode("overwrite").format("noop").save()
            return df
        return server.handle_request(self.spark, {
            "jsonrpc": "2.0", "id": i, "method": "tools/call",
            "params": {"name": op["tool"], "arguments": op["args"]}})

    def check(self, op: dict, out) -> str | None:
        """Off the clock, before ``after`` releases the op's checkpoints.
        A batch result is compared with its oracle's cached canonical hash."""
        if not self.batch:
            return self.checker.tool(op, out)
        q = op["query"]
        return self.checker.query(q, self.oracles[q], out.toPandas())

    def overlay_nodes(self) -> dict[str, int]:
        """Per written view, the Union/Project/Filter nodes of its analyzed
        plan (each docstore write stacks one more on it)."""
        import layers

        if self.batch:
            return {}
        return {t: layers.overlay_nodes(self.spark, t) for t in WRITTEN}

    def after(self) -> None:
        """Off the clock, after the check: release the op's checkpoints
        (bench.py releases after every sample too)."""
        if self.batch:
            from database_toolbox_spark import session

            session.release_materialized(self.spark)


class Pass:
    def __init__(self, ops: list[dict]) -> None:
        self.ops = ops
        self.samples: list[float] = []
        self.failures: list[str] = []
        self.layer_rows: list[dict] = []
        self.overlay_depth = 0

    @property
    def seconds(self) -> float:
        return sum(self.samples)


def run_pass(wl: Workload, pass_key: str, traced: bool = False,
             checked: bool = True) -> Pass:
    """One pass over a fresh op list, each op timed on its own. An op that
    raises always counts as failed; ``checked`` also compares each result
    with DuckDB (off the clock)."""
    import layers

    layers.TRACER.enabled = False  # the reset is the benchmark's, not an op's
    wl.reset()
    base = wl.overlay_nodes() if traced else {}
    layers.TRACER.enabled = traced
    p = Pass(wl.ops(pass_key))
    sc = wl.spark.sparkContext
    for i, op in enumerate(p.ops):
        group = f"perfbench-{pass_key}-{i}"
        if traced:
            sc.setJobGroup(group, op["label"])
            layers.TRACER.op = i
        t0 = time.perf_counter()
        with layers.TRACER.span("op"):
            try:
                out, err = wl.run(i, op), None
            except Exception as exc:  # a failed op is counted, not fatal
                out, err = None, f"{type(exc).__name__}: {exc}"
        dt = time.perf_counter() - t0
        p.samples.append(dt)
        if traced:
            layers.drain_listener(wl.spark)
            row = layers.group_counters(wl.spark, group)
            row["pinned_mb"] = layers.pinned_mb(wl.spark) if wl.batch else 0.0
            row["rows"], row["truncated"] = content_stats(out)
            row["op_s"] = dt
            p.layer_rows.append(row)
        if err is None and checked:
            try:
                err = wl.check(op, out)
            except Exception as exc:  # noqa: BLE001
                err = f"check raised {type(exc).__name__}: {exc}"
        if err is not None:
            p.failures.append(f"{op['label']}: {err}"[:300])
        wl.after()
    layers.TRACER.enabled = False
    if traced:
        sc.setJobGroup("perfbench-idle", "between ops")
        end = wl.overlay_nodes()
        p.overlay_depth = max((end[t] - base[t] for t in end), default=0)
    return p


def content_stats(resp) -> tuple[float, float]:
    """(row items, truncation markers) of a successful tool response."""
    res = resp.get("result") if isinstance(resp, dict) else None
    if not res or res["isError"]:
        return 0.0, 0.0
    marks = sum('"truncated": true' in c["text"] for c in res["content"])
    return float(len(res["content"]) - marks), float(marks)


# --- main -------------------------------------------------------------------


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measure(args) -> dict:
    """Set up cold and, for a workload that warms up, run one warm-up
    pass; then measure passes until ``--seconds`` of op time are used
    (untraced), or run one traced pass (traced). Every measured or traced
    result is checked."""
    import gen
    import layers
    from checks import Checker
    from stats import percentile, samples_needed, tail_ok

    domains = gen.domains(SF_DIR)
    if args.trace:
        layers.install()
    spark, cold_s = set_up()
    checker = Checker(ROOT, SF_DIR, domains, mirror_writes=not args.workload == "batch")
    wl = Workload(args.workload, args.seed, spark, checker, domains)
    done: list[Pass] = []
    try:
        setup_s = cold_s
        if wl.warms_up:
            # compiles every op's code paths before timing; its op time is
            # part of the set-up
            warm = run_pass(wl, "warm", checked=False)
            done.append(warm)
            setup_s += warm.seconds
        if args.trace:
            traced = run_pass(wl, "0", traced=True)
            done.append(traced)
            result = layer_metrics(wl, traced)
        else:
            measured: list[Pass] = []
            while True:
                measured.append(run_pass(wl, str(len(measured))))
                used = sum(p.seconds for p in measured)
                # a second pass of cold-measured ops would run them warm
                if not wl.warms_up or used + measured[-1].seconds > args.seconds:
                    break
            done += measured
            samples = [s for p in measured for s in p.samples]
            rss = max(layers.vm_hwm_mb(), layers.vm_hwm_mb(layers.jvm_pid(spark)))
            result = {
                "setup_s": (setup_s, "s"),
                "wall_s": (statistics.median(p.seconds for p in measured), "s"),
                "op_p50_ms": (1000 * percentile(samples, 0.5), "ms"),
                "peak_rss_mb": (rss, "MB"),
            }
            # p90 is shown, not reported: a run holds too few ops for the
            # rule of 10 samples beyond a percentile (p90 needs 100)
            rule = "; ".join(
                f"p{int(q * 100)}={1000 * percentile(samples, q):.1f} ms, rule "
                f"{'met' if tail_ok(len(samples), q) else 'NOT met'} "
                f"(needs {samples_needed(q)})" for q in (0.5, 0.9))
            print(f"perfbench: {args.workload} seed={args.seed} "
                  f"passes={len(measured)} op samples={len(samples)}; {rule}; "
                  f"set-up {setup_s:.3f} s, of it cold {cold_s:.3f} s",
                  file=sys.stderr)
            write_detail(args, cold_s, done)
    finally:
        checker.close()
        shut_down(spark)
    attempted = sum(len(p.ops) for p in done)
    failures = [f for p in done for f in p.failures]
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.items()},
    }


def write_detail(args, cold_s: float, passes: list[Pass]) -> None:
    """Per-op times of every pass (the warm-up first, if any), for looking
    behind a median."""
    path = os.path.join(WORK, f"run-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"cold_setup_s": cold_s, "passes": [
            [[op["label"], t] for op, t in zip(p.ops, p.samples)]
            for p in passes]}, f)


def layer_metrics(wl: Workload, traced: Pass) -> dict:
    """Per-layer numbers of the traced pass; also writes the span dump and
    the self-time table under .bench_build/perfbench."""
    import layers
    from stats import layer_totals

    spans = layers.TRACER.frozen()
    table = layer_totals(spans)
    rows, n = traced.layer_rows, len(traced.ops)
    # Tracing adds a wrapper call and a recorded span per traced call: far
    # less time than a pass's wall time varies from run to run, so the
    # cost is calibrated rather than read off two passes' wall times.
    overhead_s = len(spans) * layers.span_cost_s()

    def per_op_ms(name, key="total"):
        return 1000 * table.get(name, {}).get(key, 0.0) / n

    def calls(name):
        return float(table.get(name, {}).get("count", 0))

    totals = {k: sum(r[k] for r in rows) for k in rows[0]}
    op_ms = 1000 * sum(r["op_s"] for r in rows)
    build = per_op_ms("operators.build")
    mat = per_op_ms("session.materialize")
    m = {
        "server.self_ms": (per_op_ms("server", "self"), "ms"),
        "registry.call_tool_ms": (per_op_ms("registry.call_tool"), "ms"),
        "registry.self_ms": (per_op_ms("registry.call_tool", "self"), "ms"),
        "gate.check_us": (1000 * per_op_ms("gate.check"), "us"),
        "gate.denied": (float(layers.TRACER.denied), "count"),
        "executor.execute_sql_ms": (per_op_ms("executor.execute_sql"), "ms"),
        "executor.content_ms": (per_op_ms("executor.content"), "ms"),
        "catalog.list_tables_ms": (per_op_ms("catalog.list_tables"), "ms"),
        "catalog.search_ms": (per_op_ms("catalog.search"), "ms"),
        "looker.run_query_ms": (per_op_ms("looker.run_query"), "ms"),
        "document_store.read_ms": (per_op_ms("document_store.read"), "ms"),
        "document_store.write_ms": (per_op_ms("document_store.write"), "ms"),
        "document_store.overlay_depth": (float(traced.overlay_depth), "count"),
        "session.load_tables_ms": (per_op_ms("session.load_tables"), "ms"),
        "session.load_table_calls": (calls("session.load_table"), "count"),
        "session.materialize_ms": (mat, "ms"),
        "session.checkpoints": (calls("session.materialize"), "count"),
        "session.checkpoint_mb": (totals["pinned_mb"], "MB"),
        "session.release_ms": (per_op_ms("session.release"), "ms"),
        "session.released": (float(layers.TRACER.released), "count"),
        "operators.build_ms": (build, "ms"),
        "operators.construct_ms": (build - mat, "ms"),
        "spark.execute_ms": (per_op_ms("spark.execute")
                             + per_op_ms("executor.content"), "ms"),
        "spark.jobs": (totals["jobs"], "count"),
        "spark.stages": (totals["stages"], "count"),
        "spark.tasks": (totals["tasks"], "count"),
        "spark.failed_tasks": (totals["failed_tasks"], "count"),
        "spark.task_run_ms": (totals["task_run_ms"] / n, "ms"),
        "spark.task_cpu_ms": (totals["task_cpu_ms"] / n, "ms"),
        "spark.shuffle_read_mb": (totals["shuffle_read_mb"], "MB"),
        "spark.shuffle_write_mb": (totals["shuffle_write_mb"], "MB"),
        "spark.spill_mb": (totals["spill_mb"], "MB"),
        "spark.busy_ratio": (totals["task_run_ms"] / (op_ms * cores()), "ratio"),
        "executor.rows": (totals["rows"], "count"),
        "executor.truncated": (totals["truncated"], "count"),
        "trace.overhead_ms": (1000 * overhead_s / n, "ms"),
        "client.ops": (float(n), "count"),
    }
    dump = {
        "workload": wl.name, "ops": [op["label"] for op in traced.ops],
        "self_time_ms_per_op": {k: round(v, 4) for k, (v, _) in m.items()
                                if k.endswith("_ms")},
        "layer_table": table, "per_op_spark": rows,
        "tracing_overhead_s": overhead_s, "traced_pass_s": traced.seconds,
        "spans": [list(s) for s in spans],
    }
    path = os.path.join(WORK, f"trace-{wl.name}.json")
    with open(path, "w") as f:
        json.dump(dump, f)
    print(f"perfbench: span dump and self-time table in {path}", file=sys.stderr)
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "database_toolbox_spark")):
        print("perfbench: run from the root of a checkout that holds "
              "database_toolbox_spark/", file=sys.stderr)
        return 2
    prepare_env()
    # Spark and py4j may write to fd 1; keep stdout for the result line.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        result = measure(args)
    finally:
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
