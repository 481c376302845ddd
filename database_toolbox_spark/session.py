"""SparkSession construction and star-schema registration.

The reference holds no data — every byte lives in an external engine reached
through a connection config (`/root/reference/images/redshift/redshift.yaml:1-8`,
`/root/reference/tests/sqlite/sqlite.yaml:1-4`). Our storage is the driver's
Parquet star schema (TESTDATA.md); "connecting" = registering the Parquet files
as temp views so `spark.sql` and the catalog tools see them as tables.

Registration and reading are two jobs, and this module owns both:
- `load_tables` keeps the ten views registered for an sf dir and returns the
  frame registered under each name. A view whose registration over the same
  source stands costs a catalog lookup, not a parquet read, so an operator
  that only runs `spark.sql` over the views pays no read per call.
- `load_table` registers one table the same way and hands out a FRESH read
  of it (fresh expression IDs), which DataFrame-API self-joins need.
- Both read through one per-dataset fact (`_dataset`: schema plus
  TIMESTAMP(NANOS) columns, keyed by `dataset_file`) and one read
  (`_read`). No other module writes
  the view registry (tests/test_local_frame_gate.py): the docstore persist
  path re-registers its copy through `load_table(..., replace=True)`.

Scale notes (100 TB design):
- Everything is declarative `spark.read.parquet` → Catalyst gets predicate
  pushdown, column pruning, and partition pruning for free on every operator.
- AQE is on: runtime shuffle-partition coalescing + skew-join splitting, which
  is what makes a fixed `spark.sql.shuffle.partitions` safe across 1000×
  data-size range.
- Session timezone pinned to UTC for deterministic timestamp semantics
  (FIXTURES.md determinism rules).
"""

from __future__ import annotations

import itertools
import os
import sys
import threading
import time
import warnings
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass
from functools import lru_cache as _lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The ten driver tables (TESTDATA.md + FIXTURES.md). region/nation/supplier
# are broadcast-sized dimensions at every scale factor.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at any sf (FIXTURES.md join graph).
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "database-toolbox-spark",
    cpus: str | int | None = None,
    shuffle_partitions: str | int | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession configured for analytics.

    On a real cluster only master/memory change; the SQL configs below are
    the scale-relevant ones and apply unchanged.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        # A capped read (CollectLimit) scans up to `cpus` partitions in its
        # first job instead of one: a point lookup whose match sits in any
        # of those scan splits needs one Spark job, not a probe plus
        # retries. The price: an unordered capped read renders up to
        # max_rows+1 rows in every non-empty split of that first round
        # (see executor.capped_mcp_content).
        .config("spark.sql.limit.initialNumPartitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Local scan-split sizing: test files are MB-scale, so the 128m
        # default would scan single-threaded on 32 cores. On a real cluster
        # (TB-scale inputs) raise SPARK_GRAFT_MAX_PARTITION_BYTES back to
        # 128m — the env knob IS the scale dial.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
        )
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES", "512k"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """Driver-local rows (a list of tuples, one value per schema field) as
    a DataFrame over a JVM ``LocalRelation``.

    This is the package's only way to turn Python rows into a DataFrame.
    ``spark.createDataFrame(<list>, schema)`` would go through
    ``sc.parallelize``: an RDD split ``defaultParallelism`` ways whose every
    scan pipes each partition through a Python worker, and any view built
    over it (a docstore write overlay) pays that on every later read. An
    Arrow table below ``spark.sql.execution.arrow.localRelationThreshold``
    is shipped to the JVM once and planned as a ``LocalTableScan`` — no
    Python worker, no partition count tied to cores. ``schema`` is a
    StructType or a DDL string."""
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def active_sf_dir() -> str:
    """The data dir a call without one serves, read at call time (tests and
    callers switch it through the environment after import)."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


def scratch_dir(env: str, *also: str) -> str | None:
    """The directory ``$env`` names for a durable write, or None when it is
    unset. Raises ValueError unless it is disjoint from the fixture and
    reference trees, the active data dir and every dir in ``also``: a
    write there would overwrite (or, for a data dir elsewhere, collide
    with the ``<table>.parquet`` file of) a source — the sinks policy is
    "never the source dir"."""
    d = os.environ.get(env, "").strip()
    if not d:
        return None
    real = os.path.realpath(d)
    data_dirs = [os.path.realpath(p) for p in (active_sf_dir(), *also)]
    for forbidden in ["/root/testdata", "/root/reference", *data_dirs]:
        if (
            real == forbidden
            or real.startswith(forbidden + os.sep)
            or forbidden.startswith(real + os.sep)
        ):
            raise ValueError(
                f"{env} must point at a scratch directory disjoint from "
                f"{forbidden}"
            )
    return d


# Opt-in durable docstore writes (see document_store.py): when this env var
# names a scratch directory and a persisted copy of a table exists there,
# the table is registered and read from the persisted copy INSTEAD of the
# fixture parquet — that is what makes a docstore write survive a
# load_tables(replace=True) or a new session. The fixture dir itself is
# never written (scratch_dir refuses it), so unsetting the variable
# restores pristine reads.
DOCSTORE_PERSIST_ENV = "SPARK_GRAFT_DOCSTORE_PERSIST"


_shadow_warned: set[str] = set()


def persisted_table_path(name: str) -> str | None:
    d = os.environ.get(DOCSTORE_PERSIST_ENV, "").strip()
    if d:
        p = os.path.join(d, f"{name}.parquet")
        if os.path.exists(p):
            # Loud once per (table, persist dir): the persisted copy
            # shadows the fixture Spark-side ONLY, so a stale scratch dir
            # would otherwise surface as unexplained oracle mismatches
            # (round-10 ADVICE item 3).
            if p not in _shadow_warned:
                _shadow_warned.add(p)
                print(
                    f"[database_toolbox_spark] NOTE: table {name!r} reads "
                    f"the persisted docstore copy {p} (set by "
                    f"{DOCSTORE_PERSIST_ENV}), shadowing the fixture "
                    f"parquet — unset the variable or clear the scratch "
                    f"dir for pristine reads",
                    file=sys.stderr,
                )
            return p
    return None


def _view_registry(spark: SparkSession) -> dict[str, tuple[DataFrame, str]]:
    """Per-session map of temp views THIS module registered →
    (the DataFrame we registered, the parquet path it reads). Lets
    registration tell its own views (kept while their source stands) from
    caller-substituted views (must be left alone so operators compose —
    see test_scale_stress replication). The recorded path is what detects
    a mid-session source switch (a new sf_dir, or a docstore persisted
    copy appearing/disappearing) and forces a real re-registration."""
    reg = getattr(spark, "_dts_views", None)
    if reg is None:
        reg = {}
        spark._dts_views = reg
    return reg


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def dataset_file(path: str) -> str:
    """The data file that identifies the parquet dataset at ``path``: the
    path itself, or a directory dataset's first part file by name (the
    docstore persist path). Spark writes fresh randomized part names on
    every overwrite, so a rewritten dataset resolves to a new file."""
    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if parts:
            return os.path.join(path, parts[0])
    return path


def _dataset(
    spark: SparkSession, path: str
) -> tuple[T.StructType, dict[str, bool]]:
    """The Spark schema of the parquet dataset at ``path`` and its columns
    stored as TIMESTAMP(NANOS), which Spark's reader rejects
    ([PARQUET_TYPE_ILLEGAL]) unless they are read as nanos-since-epoch
    longs: when there are any, ``nanosAsLong`` is set on every call. Each
    nanos column maps to whether it is wall-clock time (not adjusted to
    UTC), which Spark infers as TIMESTAMP_NTZ when stored as micros.

    Looked up per resolved data file (``dataset_file``), so a rewritten
    dataset never gets stale facts; fixture files are immutable."""
    schema, nanos = _dataset_facts(spark, dataset_file(path), path)
    if nanos:
        spark.conf.set(_NANOS_AS_LONG, "true")
    return schema, nanos


@_lru_cache(maxsize=256)
def _dataset_facts(
    spark: SparkSession, key: str, path: str
) -> tuple[T.StructType, dict[str, bool]]:
    """``_dataset`` per resolved data file ``key``, bounded so dead keys
    from overwrites age out. The nanos columns come from the footer; the
    schema inference (~85 ms of JVM file listing and footer work) is paid
    once, and every later read passes the schema explicitly (~14 ms)."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    nanos = {} if os.path.isdir(key) else {
        f.name: f.type.tz is None
        for f in pq.read_schema(key)
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    }
    if nanos:  # inference rejects the file unless they read as longs
        spark.conf.set(_NANOS_AS_LONG, "true")
    return spark.read.parquet(path).schema, nanos


def _read(spark: SparkSession, path: str) -> DataFrame:
    """A fresh read of ``path`` (fresh expression IDs per call), with
    TIMESTAMP(NANOS) columns cast back to microsecond timestamps of the
    type Spark infers for micros (TIMESTAMP_NTZ for wall-clock columns,
    independent of the session time zone) scan-side — a codegen'd
    projection, no UDF — in the original column order."""
    schema, nanos = _dataset(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if not nanos:
        return df
    for c, ntz in nanos.items():
        micros = f"`{c}` div 1000"
        df = df.withColumn(c, F.expr(
            f"timestampadd(MICROSECOND, {micros},"
            " TIMESTAMP_NTZ'1970-01-01 00:00:00')"
            if ntz else f"timestamp_micros({micros})"
        ))
    return df.select(*schema.names)


def _register(
    spark: SparkSession, sf_dir: str, name: str, replace: bool
) -> tuple[DataFrame, str | None]:
    """Keep ``name`` registered as a temp view; return the frame registered
    under it, and its source path when that is our registration standing
    from an earlier call (no parquet read ran), else None.

    A caller-substituted view (its plan differs from what we registered —
    ``sameSemantics`` canonicalizes expression IDs) is kept, so operators
    run against the caller's data. Our registration is redone from parquet
    when its source changed (a new ``sf_dir``, or a docstore persisted copy
    appeared or vanished) or ``replace`` is set; otherwise it stands,
    skipping the read and the ~40 ms createOrReplaceTempView round trip."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    reg = _view_registry(spark)
    path = persisted_table_path(name) or table_path(sf_dir, name)
    if not replace and spark.catalog.tableExists(name):
        cur = spark.table(name)
        entry = reg.get(name)
        if entry is None or not cur.sameSemantics(entry[0]):
            return cur, None  # caller-registered (or -overwritten) view
        if entry[1] == path:
            _dataset(spark, path)  # scans of the view need nanosAsLong
            return cur, path
    df = _read(spark, path)
    df.createOrReplaceTempView(name)
    reg[name] = (df, path)
    return df, None


def load_table(
    spark: SparkSession, sf_dir: str, name: str, replace: bool = False
) -> DataFrame:
    """Register one table (see ``load_tables``) and return a fresh read of
    it: fresh expression IDs per call, so recombining the same table twice
    through the DataFrame API never trips Spark's ambiguous-self-join
    check. A caller-substituted view is returned as-is."""
    ensure_session_confs(spark)
    df, source = _register(spark, sf_dir, name, replace)
    return df if source is None else _read(spark, source)


def report_sort(df: DataFrame, *cols) -> DataFrame:
    """Total-order a SMALL report relation without the global-sort tax.

    A trailing ``ORDER BY`` compiles to a range exchange whose partitioner
    SAMPLES the child plan — and when the subtree below the sort is
    broadcast-join- or map-heavy (no intervening shuffle), that sampling
    job re-executes the entire expensive pipeline once per action
    (measured: jaccard_prefix_filter_pairs 3.6 s -> 2.2 s,
    image_jpeg_stats 2.1 s -> 0.8 s at sf0.1). Hash-shuffling to one
    partition does not sample, so the pipeline runs exactly once and the
    bounded report (pair lists above a threshold, per-cell summaries,
    per-doc stats at test scale) sorts locally.

    Only for outputs that are small by construction — a single-partition
    sort of an UNBOUNDED relation would be the classic scale-killer. For
    genuinely large ordered outputs keep ORDER BY and pay the sampler, or
    range-partition upstream of the heavy stage (see png_payloads)."""
    return df.repartition(1).sortWithinPartitions(*cols)


def strip_order_by(sql: str, suffix: str) -> str:
    """Drop the trailing ORDER BY clause that report_sort replaces with a
    local sort. Raises when ``suffix`` is not the statement's tail: a
    silent ``removesuffix`` no-op would leave the range-exchange ORDER BY
    under report_sort — results stay correct but the range-sampler
    re-execution the conversion exists to remove comes back with no
    signal (round-12 ADVICE item 1)."""
    body = sql.rstrip()
    if not body.endswith(suffix):
        raise ValueError(
            f"strip_order_by: expected trailing {suffix!r}; the shared "
            "SQL tail drifted — update the report_sort site"
        )
    return body.removesuffix(suffix)


def materialize(df: DataFrame) -> DataFrame:
    """Compute a multiply-referenced intermediate exactly once and cut its
    lineage (Catalyst inlines CTEs/views, so an expensive stage referenced
    N times otherwise re-runs N times).

    An eager ``localCheckpoint``: ~3x faster than ``cache()`` for skinny
    exploded intermediates, and faster than a MEMORY_AND_DISK ``persist``
    in 10 of 12 same-window A/Bs (OPTIMIZATION_r13.md). The pinned RDD is
    recorded under the calling thread's Spark job group (``None`` when
    unset) for ``release_materialized``."""
    cp = df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    rdd_id = cp._jdf.queryExecution().analyzed().rdd().id()
    with _PINS_LOCK:
        _pins(sc).setdefault(sc.getLocalProperty(_JOB_GROUP), []).append(rdd_id)
    return cp


_JOB_GROUP = "spark.jobGroup.id"
_PINS_LOCK = threading.Lock()


def _pins(sc) -> dict[str | None, list[int]]:
    """Job group -> ids of the RDDs ``materialize`` pinned under it in
    this SparkContext and nobody has released yet."""
    return vars(sc).setdefault("_dts_pins", {})


def release_materialized(spark: SparkSession, blocking: bool = False) -> int:
    """Unpersist the checkpoints ``materialize`` pinned under the caller's
    current Spark job group; return how many were released.

    Without a release a long-lived session accretes every materialized
    subtree (the sf5 growth study once OOMed at 8 GB this way). The job
    group is the query's scope: a caller's own ``persist()`` and other
    groups' checkpoints survive. Call it once the query's result is
    consumed: a released checkpoint cannot be recomputed, so a live frame
    from that query fails loudly instead of silently rerunning.

    A py4j error mid-release warns (RuntimeWarning) and the count keeps
    the unpersists made before it; any other exception propagates."""
    from py4j.protocol import Py4JError  # noqa: PLC0415

    sc = spark.sparkContext
    with _PINS_LOCK:
        pinned = _pins(sc).pop(sc.getLocalProperty(_JOB_GROUP), [])
    n = 0
    try:
        for rdd_id in pinned:
            sc._jsc.sc().unpersistRDD(rdd_id, blocking)
            n += 1
    except Py4JError as exc:
        warnings.warn(
            f"release_materialized: released {n} RDD(s), then failed: {exc}",
            RuntimeWarning,
            stacklevel=2,
        )
    return n


# the thread-local properties SparkContext.setJobGroup sets
_GROUP_PROPS = (_JOB_GROUP, "spark.job.description", "spark.job.interruptOnCancel")
_RUN_IDS = itertools.count()


@dataclass
class MeasuredRun:
    """The record of one ``measured`` query run."""

    name: str
    build_s: float = 0.0
    exec_s: float = 0.0
    jobs: int = 0  # Spark jobs the run's job group ran
    stages: int = 0  # stages of those jobs that ran a task (not skipped)
    tasks: int = 0  # completed tasks of those stages
    checkpoints: int = 0  # materialize pins released on exit
    error: str | None = None  # class name of the exception that escaped

    @property
    def seconds(self) -> float:
        return self.build_s + self.exec_s

    def build(self, fn: Callable, *args):
        """``fn(*args)`` on the build clock (``materialize`` is eager, so
        building a plan already runs its checkpointed subtrees)."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.build_s += time.perf_counter() - t0

    def execute(self, action: Callable, *args):
        t0 = time.perf_counter()
        try:
            return action(*args)
        finally:
            self.exec_s += time.perf_counter() - t0


@contextmanager
def measured(spark: SparkSession, name: str) -> Iterator[MeasuredRun]:
    """One query's lifecycle: ``with measured(spark, name) as run: df =
    run.build(fn, spark, sf_dir); run.execute(noop_write, df)``.

    The block runs under a job group of its own, which owns the query's
    Spark jobs and ``materialize`` pins; work outside ``build``/``execute``
    (collecting the frame for a check) is off the clock. On exit the pins
    are released, the jobs, stages and tasks counted and the previous group
    restored. An escaping exception is recorded in ``run.error`` and
    re-raised."""
    sc = spark.sparkContext
    saved = [sc.getLocalProperty(key) for key in _GROUP_PROPS]
    group = f"measured-{next(_RUN_IDS)}-{name}"
    sc.setJobGroup(group, name)
    run = MeasuredRun(name)
    try:
        yield run
    except Exception as exc:
        run.error = type(exc).__name__
        raise
    finally:
        run.checkpoints = len(_pins(sc).get(group, ()))
        release_materialized(spark)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are async
        run.jobs, run.stages, run.tasks = _group_counts(sc, group)
        for key, value in zip(_GROUP_PROPS, saved):
            sc.setLocalProperty(key, value)


def _group_counts(sc, group: str) -> tuple[int, int, int]:
    """Jobs, stages and tasks of one job group. A stage with no completed
    and no failed task was skipped (its shuffle output was reused) and is
    not counted; tasks are the completed ones."""
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for sid in stage_ids:
        st = tracker.getStageInfo(sid)
        if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
            continue
        stages += 1
        tasks += st.numCompletedTasks
    return len(job_ids), stages, tasks


def noop_write(df: DataFrame) -> None:
    """Run ``df``'s full plan into the noop sink (no result transfer)."""
    df.write.mode("overwrite").format("noop").save()


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Pay one-time session costs before anything is timed — a scan per
    table (parquet footers, codegen), ``pricing_summary`` (a real shuffle)
    and a Python worker per shuffle partition (``mapInPandas``). Without
    it the first timed queries run 2-4x their steady state and the first
    mapInPandas query pays ~15 s of worker forks."""
    from database_toolbox_spark.operators.tpch import pricing_summary  # noqa: PLC0415

    def _batches(batches):
        yield from batches

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with measured(spark, "warm-up"):
        for df in load_tables(spark, sf_dir).values():
            noop_write(df.limit(1))
        noop_write(pricing_summary(spark, sf_dir))
        noop_write(spark.range(n * 4).repartition(n).mapInPandas(_batches, "id long"))


def ensure_session_confs(spark: SparkSession) -> None:
    """Runtime-settable confs the engine's semantics depend on, applied
    defensively for externally-built sessions (e.g. the round driver's):
    UTC timestamps (FIXTURES.md determinism) and AQE."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def load_tables(
    spark: SparkSession, sf_dir: str, replace: bool = False
) -> dict[str, DataFrame]:
    """Keep the full star schema registered as temp views; return name →
    the frame registered under it. No parquet read runs for a view whose
    registration over the same source still stands (see ``_register``);
    ``replace=True`` forces parquet re-registration of every table. The
    returned frames share the views' expression IDs: a DataFrame-API join
    of a table with itself takes ``load_table`` frames instead.

    Mirrors the reference's "source" concept (a connection makes the engine's
    tables visible; `/root/reference/images/redshift/redshift.yaml:1-8`): after
    this call, `spark.sql` and the catalog tools can see every table.
    """
    ensure_session_confs(spark)
    return {name: _register(spark, sf_dir, name, replace)[0] for name in TABLES}
