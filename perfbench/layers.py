"""Per-layer measurement from outside the program.

Nothing here edits program code. Spans come from wrapping the program's
public functions at import time: every module binding that holds the
original function object (``executor.check`` is ``gate.check`` imported by
name, ``materialize`` is imported by name into many operator modules) is
swapped for one wrapper, so a call through any binding records one span.
Spark-side numbers come from Spark's own status tracker and status store,
read per op through the op's job group.
"""

from __future__ import annotations

import functools
import re
import sys
import time

# (module, function, span name). The span name is the per-layer metric
# prefix; document_store reads and writes share one span name each.
WRAPPED = (
    ("server", "handle_request", "server"),
    ("registry", "call_tool", "registry.call_tool"),
    ("gate", "check", "gate.check"),
    ("executor", "execute_sql", "executor.execute_sql"),
    ("executor", "capped_mcp_content", "executor.content"),
    ("catalog", "list_tables", "catalog.list_tables"),
    ("catalog", "search_entries", "catalog.search"),
    ("catalog", "lookup_entry", "catalog.lookup"),
    ("looker", "run_query", "looker.run_query"),
    ("document_store", "get_documents", "document_store.read"),
    ("document_store", "query_collection", "document_store.read"),
    ("document_store", "aggregate_collection", "document_store.read"),
    ("document_store", "add_documents", "document_store.write"),
    ("document_store", "update_document", "document_store.write"),
    ("document_store", "delete_documents", "document_store.write"),
    ("session", "load_tables", "session.load_tables"),
    ("session", "load_table", "session.load_table"),
    ("session", "materialize", "session.materialize"),
    ("session", "release_materialized", "session.release"),
)

PKG = "database_toolbox_spark"


class Tracer:
    """In-memory span recorder. Disabled, a wrapper costs one attribute
    test; enabled, it appends (name, start, end, parent, op) per call."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self.denied = 0
        self.released = 0

    def span(self, name: str):
        """Context manager for a span the benchmark itself opens (the op,
        the query build, the final Spark action)."""
        return _Span(self, name)

    def _open(self, name: str) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int | None) -> None:
        if idx is None:
            return
        self._stack.pop()
        self.spans[idx][2] = time.perf_counter()

    def frozen(self) -> list[tuple]:
        return [tuple(s) for s in self.spans]


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.idx = tracer, name, None

    def __enter__(self):
        self.idx = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.idx)


TRACER = Tracer()


def _wrap(fn, name: str):
    from database_toolbox_spark.gate import StatementDenied

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        idx = TRACER._open(name)
        try:
            out = fn(*args, **kwargs)
        except StatementDenied:
            if idx is not None and name == "gate.check":
                TRACER.denied += 1
            raise
        finally:
            TRACER._close(idx)
        if idx is not None and name == "session.release":
            TRACER.released += int(out)
        return out

    traced.__wrapped_original__ = fn
    return traced


def span_cost_s(calls: int = 20000) -> float:
    """Seconds a traced call adds to an untraced one: the wrapper plus the
    span it records, timed over ``calls`` calls of a no-op."""
    def noop() -> None:
        return None

    traced = _wrap(noop, "calibrate")
    saved, TRACER.spans = TRACER.spans, []
    t0 = time.perf_counter()
    for _ in range(calls):
        noop()
    raw = time.perf_counter() - t0
    TRACER.enabled = True
    t0 = time.perf_counter()
    for _ in range(calls):
        traced()
    wrapped = time.perf_counter() - t0
    TRACER.enabled, TRACER.spans = False, saved
    return max(wrapped - raw, 0.0) / calls


def install() -> None:
    """Import the program's modules and swap every binding of each
    WRAPPED function for its traced wrapper."""
    import importlib

    from database_toolbox_spark.operators import all_queries

    all_queries()  # imports every operator module, so their bindings exist
    for mod in ("server", "registry", "looker", "document_store", "catalog"):
        importlib.import_module(f"{PKG}.{mod}")
    wrappers = {}
    for mod, fn_name, span_name in WRAPPED:
        orig = getattr(sys.modules[f"{PKG}.{mod}"], fn_name)
        wrappers[id(orig)] = (orig, _wrap(orig, span_name))
    for mname, module in list(sys.modules.items()):
        if not (mname == PKG or mname.startswith(PKG + ".")):
            continue
        for attr, val in list(vars(module).items()):
            hit = wrappers.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(module, attr, hit[1])


# --- Spark counters per job group -----------------------------------------


def drain_listener(spark) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status store holds the op's finished stages before they are read."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages and tasks of one job group from the status tracker,
    plus run/CPU time, shuffle and spill bytes from the status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "failed_tasks", "task_run_ms",
         "task_cpu_ms", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"),
        0.0,
    )
    stage_ids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        st = tracker.getStageInfo(sid)
        if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
            continue  # skipped: its shuffle output was reused
        out["stages"] += 1
        out["tasks"] += st.numCompletedTasks
        out["failed_tasks"] += st.numFailedTasks
        sd = store.lastStageAttempt(sid)
        out["task_run_ms"] += sd.executorRunTime()
        out["task_cpu_ms"] += sd.executorCpuTime() / 1e6
        out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
    return out


# A Union, Project or Filter line of a plan's tree string.
_OVERLAY_NODE = re.compile(r"^[\s:|+-]*(?:Union|Project|Filter)\b", re.M)


def overlay_nodes(spark, view: str) -> int:
    """Union, Project and Filter nodes in the analyzed plan of a session
    view. No job runs: the plan is only analyzed."""
    plan = spark.table(view)._jdf.queryExecution().analyzed().treeString()
    return len(_OVERLAY_NODE.findall(plan))


def pinned_mb(spark) -> float:
    """Bytes held by persisted/checkpointed RDDs right now, in MiB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


# --- memory -----------------------------------------------------------------


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())
