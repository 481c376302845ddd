"""Structured Streaming event-time operators.

Batch equivalents (operators/events.py) carry the oracle-checked semantics;
these run the same logic as streams: `readStream` → watermark → windowed /
stateful aggregation. Tested by driving the parquet fixture through a
streaming query (availableNow-style, memory sink) and comparing to batch
results (tests/test_streaming.py).

Scale notes: watermark + windowed aggregation is the canonical bounded-state
plan — state is per (window, key) and expires with the watermark; dedup state
expires with `dropDuplicatesWithinWatermark`; the custom stateful operator
uses applyInPandasWithState with per-group state only.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from database_toolbox_spark.operators.dedup import (
    _minhash_slice,
    _SPARK_SHINGLE_SET,
    JACCARD_THRESHOLD,
    N_BANDS,
    N_HASHES,
)
from database_toolbox_spark.session import _dataset, table_path


def _raw_schema(ts_nanos: bool) -> T.StructType:
    """events schema for the file stream source. The fixture's ts physical
    type varies by generator version (TIMESTAMP(NANOS) vs MICROS) — detected
    from the parquet footer by session._dataset. Nanos are read as
    longs (nanosAsLong) and converted scan-side; micros are native."""
    ts_type = T.LongType() if ts_nanos else T.TimestampType()
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _stream_dir(sf_dir: str) -> str:
    """The file stream source requires a directory; stage the single fixture
    file behind a symlink in a stable temp dir (read-only testdata)."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"dts_events_stream_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(table_path(sf_dir, "events"), link)
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a stream (file source over a staged directory)."""
    # sets nanosAsLong when ts is TIMESTAMP(NANOS)
    ts_nanos = "ts" in _dataset(spark, table_path(sf_dir, "events"))[1]
    raw = (
        spark.readStream.schema(_raw_schema(ts_nanos))
        .format("parquet")
        .load(_stream_dir(sf_dir))
    )
    if ts_nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def stream_hourly_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows per event type with a 30-minute watermark —
    streaming twin of operators/events.hourly_event_windows."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n", "sum_value")
    )


def stream_dedup(events: DataFrame) -> DataFrame:
    """Stateful dedup on event_id with bounded state —
    dropDuplicatesWithinWatermark (streaming twin of events.event_dedup)."""
    return events.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_session_windows(events: DataFrame) -> DataFrame:
    """Session windows (10-minute gap) per user — streaming twin of
    events.user_session_windows."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)
_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def stream_user_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals via applyInPandasWithState (custom stateful
    streaming operator — SURVEY.md §2.B UDF surface).

    The state function is defined locally so cloudpickle serializes it by
    value (no package import needed on Python workers)."""

    def running_totals(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        running_totals,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_foreach_batch_totals(
    events: DataFrame, sink_dir: str, checkpoint_dir: str
):
    """Exactly-once foreachBatch sink: per-event-type totals upserted into a
    parquet "table" partitioned by epoch.

    Exactly-once = at-least-once replay × idempotent write: Structured
    Streaming may re-run an epoch after failure, but each epoch overwrites
    its own `batch_id=<n>` partition, so replays replace rather than
    duplicate; the checkpoint ensures a completed epoch is never re-offered
    after restart. Readers take the latest batch_id per key (update-mode
    snapshot semantics).

    Returns the DataStreamWriter (caller starts it — tests use
    trigger(availableNow=True))."""

    agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{sink_dir}/batch_id={batch_id}")
        )

    return (
        agg.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def read_foreach_batch_snapshot(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Snapshot view over the foreachBatch sink: latest batch per key wins
    (update-mode merge at read time) — window-free via groupBy + max_by-style
    struct ordering to stay one shuffle."""
    raw = spark.read.option("basePath", sink_dir).parquet(f"{sink_dir}/batch_id=*")
    return (
        raw.groupBy("event_type")
        .agg(F.max(F.struct("batch_id", "n", "sum_value")).alias("s"))
        .select("event_type", F.col("s.n").alias("n"), F.col("s.sum_value").alias("sum_value"))
    )


def stream_cdc_upsert(events: DataFrame, sink_dir: str, checkpoint_dir: str):
    """Streaming CDC materialization (the streaming twin of
    operators/merge_ops.cdc_net_changes): maintain a last-writer-wins
    current-state table keyed by user_id from the event stream.

    Each micro-batch is first compacted to ITS latest row per key (max_by
    via struct ordering on (ts, event_id) — one keyed shuffle, no window),
    then written idempotently to a `batch_id=<n>` partition; replays of an
    epoch overwrite rather than duplicate, and the checkpoint guarantees a
    completed epoch is never re-offered — exactly-once by at-least-once ×
    idempotence, same contract as stream_foreach_batch_totals. The
    snapshot reader (read_cdc_snapshot) resolves across batches by
    (ts, event_id, batch_id), so the merged view is identical to running
    the compaction over the whole history in batch.

    Returns the DataStreamWriter (caller starts it)."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        latest = (
            batch_df.groupBy("user_id")
            .agg(
                F.max(
                    F.struct("ts", "event_id", "event_type", "value")
                ).alias("s")
            )
            .select(
                "user_id",
                F.col("s.ts").alias("ts"),
                F.col("s.event_id").alias("event_id"),
                F.col("s.event_type").alias("event_type"),
                F.col("s.value").alias("value"),
            )
        )
        (
            latest.withColumn("batch_id", F.lit(batch_id))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{sink_dir}/batch_id={batch_id}")
        )

    return (
        events.writeStream.foreachBatch(upsert)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def read_cdc_snapshot(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Current-state view over the CDC sink: latest (ts, event_id) per key
    across all batch partitions — one grouped max-of-struct, no window."""
    raw = spark.read.option("basePath", sink_dir).parquet(
        f"{sink_dir}/batch_id=*"
    )
    return (
        raw.groupBy("user_id")
        .agg(
            F.max(
                F.struct("ts", "event_id", "batch_id", "event_type", "value")
            ).alias("s")
        )
        .select(
            "user_id",
            F.col("s.ts").alias("ts"),
            F.col("s.event_id").alias("event_id"),
            F.col("s.event_type").alias("event_type"),
            F.col("s.value").alias("value"),
        )
    )


def stream_view_click_join(events: DataFrame) -> DataFrame:
    """Stream-stream self-join: clicks matched to the same user's views
    within the preceding 10 minutes — event-time range join with watermarks
    on BOTH sides so join state expires (bounded state, the only shape that
    survives an unbounded stream)."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", "30 minutes")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    return clicks.join(
        views,
        F.expr(
            "c_user = v_user AND click_ts > view_ts "
            "AND click_ts <= view_ts + INTERVAL 10 MINUTES"
        ),
        "inner",
    ).select("c_user", "view_id", "click_id", "view_ts", "click_ts")


def stream_enriched_event_counts(
    events: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-STATIC enrichment join — the canonical dimension-lookup
    pattern: each micro-batch of the event stream joins a static
    customer-segment dimension (broadcast; the static side is planned once
    and needs no watermark or join state), then aggregates per segment.
    At scale the static side is a slowly-changing dim snapshot; Spark
    re-broadcasts it per restart, state stays bounded by the windowed agg
    alone."""
    from database_toolbox_spark.session import load_table  # noqa: PLC0415

    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    return (
        events.withWatermark("ts", "30 minutes")
        .join(dim, "user_id", "left")
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.coalesce("segment", F.lit("UNKNOWN")).alias("segment"),
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("hour_start"), "segment", "n", "sum_value")
    )


_CLOSE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("closed_by_timeout", T.BooleanType()),
    ]
)
_CLOSE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def stream_user_totals_with_timeout(events: DataFrame) -> DataFrame:
    """Per-user totals that CLOSE via event-time timeout: when the watermark
    passes a group's deadline the state is emitted once with
    closed_by_timeout=true and removed — the bounded-lifetime session
    pattern (state cannot grow forever; inactive keys leave memory). The
    state fn is defined locally so cloudpickle ships it by value."""

    def totals_with_timeout(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "closed_by_timeout": [True],
                }
            )
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        # deadline: one minute of event time past the current watermark
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 60_000)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "closed_by_timeout": [False],
            }
        )

    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            totals_with_timeout,
            outputStructType=_CLOSE_OUT_SCHEMA,
            stateStructType=_CLOSE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


_TWS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


TWS_REQUIREMENT = (
    "google.protobuf — the transformWithStateInPandas worker speaks "
    "protobuf to the state server; absent it, use "
    "stream_user_running_totals (applyInPandasWithState v1 API), which "
    "covers the same running-total semantics"
)


def tws_available() -> bool:
    """Capability gate for the stateful-v2 API (jdbc_available-style):
    True iff the protobuf runtime the TWS wire protocol needs is
    importable. Tests branch on this instead of silently skipping."""
    try:
        from google.protobuf import descriptor as _  # noqa: F401, PLC0415
    except ImportError:
        return False
    return True


def stream_user_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running totals via transformWithStateInPandas — the Spark 4
    arbitrary-stateful API (successor to applyInPandasWithState): state is
    a named, schema-typed ValueState owned by a StatefulProcessor, backed
    by the RocksDB state store (the caller must set
    spark.sql.streaming.stateStore.providerClass to
    RocksDBStateStoreProvider — required by transformWithState, and the
    right choice at scale anyway: state lives off-heap/on-disk per
    executor, so total state size is bounded by cluster disk, not memory).

    The processor class is defined locally so cloudpickle ships it by
    value (FIXTURES.md rule 5). Runtime requirement: the TWS state-server
    protocol speaks protobuf, so google.protobuf must be importable on the
    driver (the matching test skips where it is absent)."""
    if not tws_available():
        raise ImportError(f"transformWithStateInPandas requires {TWS_REQUIREMENT}")
    from pyspark.sql.streaming.stateful_processor import (  # noqa: PLC0415
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n BIGINT, total DOUBLE"
            )

        def handleInputRows(self, key, rows, timer_values):
            n, total = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType=_TWS_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


# --- streaming incremental near-dup detection ------------------------------

DOCS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def read_docs_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """documents as a file-source stream over a directory of parquet
    slices; one file per micro-batch with maxFilesPerTrigger=1 — the
    arrival order a test controls by slicing the fixture."""
    return (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src_dir)
    )


def _doc_signatures(batch_df: DataFrame) -> DataFrame:
    """(doc_id, sh array<string>, h0..h7) per doc — operators/dedup.py's
    shingle set and hash slices, computed with array expressions only (no
    explode — the per-doc shingle set rides along for exact Jaccard
    verification at probe time)."""
    return batch_df.selectExpr(
        "doc_id", "split(text, ' ') AS w"
    ).where("size(w) >= 3").selectExpr(
        "doc_id", f"{_SPARK_SHINGLE_SET} AS sh"
    ).selectExpr(
        "*",
        *(f"array_min(transform(sh, s -> {_minhash_slice(k)})) AS h{k}"
          for k in range(N_HASHES)),
    )


def _band_view(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) — 2-hash LSH bands, one row per band."""
    bands = ", ".join(
        f"named_struct('band', {b}, 'bkey', concat(h{2*b}, h{2*b+1}))"
        for b in range(N_BANDS)
    )
    return sigs.selectExpr(
        "doc_id", f"inline(array({bands}))"
    )


def stream_minhash_near_dup(
    docs: DataFrame, store_dir: str, pairs_dir: str, checkpoint_dir: str
):
    """Incremental near-dup detection at ingest — the streaming twin of
    operators/dedup.minhash_delta_pairs: each micro-batch of new documents
    is MinHash-signed, LSH-probed against the accumulated signature store
    (plus itself, for intra-batch dups), exact-Jaccard-verified on the
    stored shingle sets, and the surviving pairs land in the pairs sink;
    the batch's signatures then join the store.

    Exactly-once: both the store and the pairs sink are partitioned by
    epoch (`batch_id=<n>` overwrite), so an epoch replay replaces rather
    than duplicates, and the store read excludes the current epoch — a
    replayed batch never probes its own half-written signatures.

    Scale shape: per epoch the only joins are the banded equi-join
    (batch × store on (band, bkey) — candidates only, never all-pairs) and
    the two signature lookups for verification; store growth is one
    signature row per document, O(corpus), partition-pruned by epoch.

    Returns the DataStreamWriter (caller starts it; tests use
    trigger(availableNow=True))."""

    def probe_and_update(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sigs = _doc_signatures(batch_df)
        try:
            store = (
                spark.read.option("basePath", store_dir)
                .parquet(f"{store_dir}/batch_id=*")
                .where(F.col("batch_id") < F.lit(batch_id))
                .drop("batch_id")
            )
        except Exception:  # first epoch: no store yet
            store = None
        universe = sigs if store is None else store.unionByName(sigs)
        cand = (
            _band_view(sigs)
            .alias("p")
            .join(
                _band_view(universe).alias("u"),
                (F.col("p.band") == F.col("u.band"))
                & (F.col("p.bkey") == F.col("u.bkey"))
                & (F.col("p.doc_id") != F.col("u.doc_id")),
            )
            .select(
                F.least("p.doc_id", "u.doc_id").alias("doc_a"),
                F.greatest("p.doc_id", "u.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        shingles = universe.select("doc_id", "sh")
        pairs = (
            cand.join(
                shingles.select(
                    F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa")
                ),
                "doc_a",
            )
            .join(
                shingles.select(
                    F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb")
                ),
                "doc_b",
            )
            .selectExpr(
                "doc_a",
                "doc_b",
                "size(array_intersect(sa, sb)) * 1e0 /"
                " (size(sa) + size(sb) - size(array_intersect(sa, sb)))"
                " AS j_raw",
            )
            .where(F.col("j_raw") >= JACCARD_THRESHOLD)
            .selectExpr(
                "doc_a", "doc_b",
                "floor(j_raw * 1000000 + 0.501e0) / 1000000e0 AS jaccard",
            )
        )
        pairs.coalesce(1).write.mode("overwrite").parquet(
            f"{pairs_dir}/batch_id={batch_id}"
        )
        sigs.coalesce(1).write.mode("overwrite").parquet(
            f"{store_dir}/batch_id={batch_id}"
        )

    return (
        docs.writeStream.foreachBatch(probe_and_update)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def read_near_dup_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """All pairs emitted across epochs (each pair is emitted exactly once —
    in the epoch its later member arrived; DISTINCT guards the both-sides-
    probe duplication within an epoch)."""
    return (
        spark.read.option("basePath", pairs_dir)
        .parquet(f"{pairs_dir}/batch_id=*")
        .select("doc_a", "doc_b", "jaccard")
        .distinct()
    )


_ANOM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("mean", T.DoubleType()),
        T.StructField("m2", T.DoubleType()),
        T.StructField("n_anom", T.LongType()),
    ]
)
_ANOM_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("n_anomalies", T.LongType()),
        T.StructField("running_mean", T.DoubleType()),
        T.StructField("running_sd", T.DoubleType()),
    ]
)

ANOM_WARMUP = 30  # flags start once a type has this much history
ANOM_SIGMA = 3.0


def stream_value_anomalies(events: DataFrame) -> DataFrame:
    """Streaming per-event-type anomaly counter: Welford's online
    mean/variance as keyed state, each arriving value flagged against
    the PRIOR statistics (|v - mean| > 3 sd once 30 events of history
    exist — no self-contamination: a spike is judged before it updates
    the state). The monitoring twin of the batch detectors
    (daily_revenue_anomalies / cusum_shift_detection) — the state is
    three numbers per key, so a million event types cost MBs.

    Rows are processed in (ts, event_id) order within each micro-batch,
    so a single-batch replay is deterministic and the batch-equivalence
    test can replay the identical fold in pandas. The Welford update is
    inherently sequential PER KEY; keys process in parallel (the
    groupBy partitioning is the parallelism axis, exactly like the
    batch engine's per-segment aggregates)."""

    def detect(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import math

        n, mean, m2, n_anom = (
            state.get if state.exists else (0, 0.0, 0.0, 0)
        )
        for pdf in batches:
            pdf = pdf.sort_values(["ts", "event_id"])
            for v in pdf["value"].astype(float):
                if n >= ANOM_WARMUP:
                    sd = math.sqrt(m2 / (n - 1))
                    if sd > 0 and abs(v - mean) > ANOM_SIGMA * sd:
                        n_anom += 1
                n += 1
                d = v - mean
                mean += d / n
                m2 += d * (v - mean)
        state.update((n, mean, m2, n_anom))
        sd = math.sqrt(m2 / (n - 1)) if n > 1 else 0.0
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_seen": [n],
                "n_anomalies": [n_anom],
                "running_mean": [round(mean, 6)],
                "running_sd": [round(sd, 6)],
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        detect,
        outputStructType=_ANOM_OUT_SCHEMA,
        stateStructType=_ANOM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming heavy hitters (Misra-Gries) ----------------------------------

MG_K = 8  # counters per shard sketch
MG_SHARDS = 8  # parallelism axis: user_id % MG_SHARDS

_MG_STATE_SCHEMA = T.StructType(
    [
        T.StructField("sketch", T.StringType()),  # JSON {user_id: count}
        T.StructField("n_seen", T.LongType()),
    ]
)
_MG_OUT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("mg_count", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def stream_heavy_hitters(events: DataFrame) -> DataFrame:
    """Streaming heavy-hitter users via the Misra-Gries summary (Misra &
    Gries, "Finding Repeated Elements", Sci. Comp. Prog. 1982): each
    shard (user_id % MG_SHARDS) keeps at most MG_K counters as keyed
    state; a new element increments its counter, claims a free slot, or
    decrements ALL counters (evicting zeros). Deterministic guarantee:
    any user with shard frequency > n_shard/(MG_K+1) survives in the
    sketch, and true_count - mg_count <= floor(n_shard/(MG_K+1)) — the
    "who dominates the stream" monitor at O(K) state per shard, where an
    exact groupBy would hold every user ever seen.

    Shards, not a global group, are the parallelism axis (the classic
    per-partition-sketch-then-merge shape: merged candidate sets remain
    a superset of the global heavy hitters). Rows process in
    (ts, event_id) order within each micro-batch so a pandas replay is
    bit-identical (tests/test_streaming.py)."""

    def summarize(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import json

        sketch_json, n_seen = state.get if state.exists else ("{}", 0)
        sketch = {int(k): v for k, v in json.loads(sketch_json).items()}
        for pdf in batches:
            pdf = pdf.sort_values(["ts", "event_id"])
            for uid in pdf["user_id"].astype(int):
                n_seen += 1
                if uid in sketch:
                    sketch[uid] += 1
                elif len(sketch) < MG_K:
                    sketch[uid] = 1
                else:
                    sketch = {
                        u: c - 1 for u, c in sketch.items() if c > 1
                    }
        state.update((json.dumps({str(k): v for k, v in sketch.items()}),
                      n_seen))
        uids = sorted(sketch)
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(uids),
                "user_id": uids,
                "mg_count": [sketch[u] for u in uids],
                "n_seen": [n_seen] * len(uids),
            }
        )

    return (
        events.withColumn(
            "shard", F.pmod(F.col("user_id"), F.lit(MG_SHARDS))
        )
        .groupBy("shard")
        .applyInPandasWithState(
            summarize,
            outputStructType=_MG_OUT_SCHEMA,
            stateStructType=_MG_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --- streaming OHLC bars ----------------------------------------------------

_OHLC_STATE_SCHEMA = T.StructType(
    [
        T.StructField("open_ts", T.LongType()),
        T.StructField("open_eid", T.LongType()),
        T.StructField("open_v", T.DoubleType()),
        T.StructField("close_ts", T.LongType()),
        T.StructField("close_eid", T.LongType()),
        T.StructField("close_v", T.DoubleType()),
        T.StructField("high_v", T.DoubleType()),
        T.StructField("low_v", T.DoubleType()),
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)
_OHLC_OUT_SCHEMA = T.StructType(
    [
        T.StructField("bar_hour", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("open_value", T.DoubleType()),
        T.StructField("high_value", T.DoubleType()),
        T.StructField("low_value", T.DoubleType()),
        T.StructField("close_value", T.DoubleType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def stream_ohlc_bars(events: DataFrame) -> DataFrame:
    """Streaming hourly OHLC bars — stateful twin of
    events.event_value_ohlc_hourly. Per-bar state is ten scalars (the
    open/close anchors with their (ts, event_id) tie-break keys, the
    running high/low/count/total), so a bar's state never grows with its
    event count and late rows fold in exactly like the batch
    row_number-over-(ts, event_id) would place them."""

    def fold(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (o_ts, o_eid, o_v, c_ts, c_eid, c_v,
             hi, lo, n, total) = state.get
        else:
            o_ts = o_eid = c_ts = c_eid = n = 0
            o_v = c_v = total = 0.0
            hi, lo = float("-inf"), float("inf")
        for pdf in batches:
            ts_us = pdf["ts"].astype("int64") // 1000
            for t_us, eid, v in zip(
                ts_us, pdf["event_id"].astype(int),
                pdf["value"].astype(float),
            ):
                if n == 0 or (t_us, eid) < (o_ts, o_eid):
                    o_ts, o_eid, o_v = t_us, eid, v
                if n == 0 or (t_us, eid) > (c_ts, c_eid):
                    c_ts, c_eid, c_v = t_us, eid, v
                hi = max(hi, v)
                lo = min(lo, v)
                n += 1
                total += v
        state.update(
            (o_ts, o_eid, o_v, c_ts, c_eid, c_v, hi, lo, n, total)
        )
        yield pd.DataFrame(
            {
                "bar_hour": [key[0]],
                "n_events": [n],
                "open_value": [o_v],
                "high_value": [hi],
                "low_value": [lo],
                "close_value": [c_v],
                "total_value": [total],
            }
        )

    return (
        events.withColumn("bar_hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("bar_hour")
        .applyInPandasWithState(
            fold,
            outputStructType=_OHLC_OUT_SCHEMA,
            stateStructType=_OHLC_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --- streaming metronome-bot detector ----------------------------------------

BOT_STREAM_MIN_GAPS = 10  # matches operators/events.py bot_user_flags
BOT_STREAM_CV_NUM = 1
BOT_STREAM_CV_DEN = 4

_BOT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_gaps", T.LongType()),
        T.StructField("mean_gap", T.DoubleType()),
        T.StructField("m2", T.DoubleType()),
        T.StructField("last_us", T.LongType()),
    ]
)
_BOT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_gaps", T.LongType()),
        T.StructField("mean_gap_s", T.DoubleType()),
        T.StructField("sd_gap_s", T.DoubleType()),
        T.StructField("too_regular", T.IntegerType()),
    ]
)


def stream_bot_flags(events: DataFrame) -> DataFrame:
    """Streaming twin of operators/events.bot_user_flags: per-user
    inter-arrival Welford state (gap count, mean, M2, last event-time)
    updated as events arrive; a user flips to too_regular once it has
    >= BOT_STREAM_MIN_GAPS gaps with coefficient of variation below
    NUM/DEN (the integer-multiplied compare the batch op uses). Four
    numbers of state per user — the abuse monitor runs at ingest
    instead of in the nightly batch.

    Per-key sequencing matches the batch lag window ((ts, event_id)
    order within each micro-batch), so the final per-user statistics
    are EQUAL to the batch operator's per_user relation — asserted by
    the batch-equivalence test."""

    def fold(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import math

        n, mean, m2, last_us = (
            state.get if state.exists else (0, 0.0, 0.0, -1)
        )
        for pdf in batches:
            pdf = pdf.sort_values(["ts", "event_id"])
            us_col = (
                pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000
            )
            for us in us_col:
                us = int(us)
                if last_us >= 0:
                    gap = (us - last_us) / 1e6
                    n += 1
                    d = gap - mean
                    mean += d / n
                    m2 += d * (gap - mean)
                last_us = us
        state.update((n, mean, m2, last_us))
        sd = math.sqrt(m2 / (n - 1)) if n > 1 else 0.0
        flag = int(
            n >= BOT_STREAM_MIN_GAPS
            and sd * BOT_STREAM_CV_DEN < mean * BOT_STREAM_CV_NUM
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_gaps": [n],
                "mean_gap_s": [round(mean, 6)],
                "sd_gap_s": [round(sd, 6)],
                "too_regular": [flag],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=_BOT_OUT_SCHEMA,
        stateStructType=_BOT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming bottom-k key sample ---------------------------------------------

BOTTOMK_STREAM_K = 8  # matches operators/sketches.py BOTTOMK_K

_BOTTOMK_STATE_SCHEMA = T.StructType(
    [
        T.StructField("hashes", T.ArrayType(T.LongType())),
        T.StructField("users", T.ArrayType(T.LongType())),
    ]
)
_BOTTOMK_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("rank", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("hash_val", T.LongType()),
    ]
)


def stream_bottomk_sample(events: DataFrame) -> DataFrame:
    """Streaming bottom-k uniform key sample — the incremental twin of
    sketches.bottomk_user_sample: per event type, keep the
    {BOTTOMK_STREAM_K} distinct users with the smallest md5-derived
    hashes. State is exactly k (hash, user) pairs per key; merging a
    micro-batch is candidates := state ∪ batch, sort, truncate — the
    min-wise property makes the result independent of arrival order, so
    the final answer is batch-identical however the stream is chopped."""
    import hashlib  # noqa: PLC0415

    def fold(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            hashes, users = state.get
            best = dict(zip(users, hashes))
        else:
            best = {}
        for pdf in batches:
            for uid in pdf["user_id"].astype(int).unique():
                uid = int(uid)  # plain int: numpy scalars break state pickling
                if uid not in best:
                    h = int(
                        hashlib.md5(str(uid).encode()).hexdigest()[:8], 16
                    ) + 1
                    best[uid] = h
        kept = sorted(
            best.items(), key=lambda t: (t[1], t[0])
        )[:BOTTOMK_STREAM_K]
        state.update((
            [h for _, h in kept], [u for u, _ in kept],
        ))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(kept),
                "rank": list(range(1, len(kept) + 1)),
                "user_id": [u for u, _ in kept],
                "hash_val": [h for _, h in kept],
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        fold,
        outputStructType=_BOTTOMK_OUT_SCHEMA,
        stateStructType=_BOTTOMK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming sample-ratio-mismatch monitor ---------------------------------

_SRM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n0", T.LongType()),
        T.StructField("n1", T.LongType()),
    ]
)
_SRM_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_arm0", T.LongType()),
        T.StructField("n_arm1", T.LongType()),
        T.StructField("srm_chi2", T.DoubleType()),
        T.StructField("srm_flag", T.IntegerType()),
    ]
)

SRM_CRIT_95 = 3.841459  # chi-square(1) at alpha = 0.05


def stream_srm_monitor(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch A/B health check
    (operators/stats.ab_experiment_health): per event type, maintain
    running per-arm event counts (arm = md5(user_id) % 2 — the same
    reshuffle-stable split the batch op uses) and emit the
    sample-ratio-mismatch chi-square after every micro-batch. The state
    is TWO LONGS per key — the cheapest possible experiment guardrail,
    and the first thing a platform pages on when bucketing breaks.

    The chi-square is a pure function of the counts, so the streaming
    result after the final micro-batch must equal the batch computation
    exactly (asserted in tests)."""
    armed = events.withColumn(
        "arm",
        F.expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 4),"
            " 16, 10) AS INT) % 2"
        ),
    )

    def monitor(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n0, n1 = state.get if state.exists else (0, 0)
        for pdf in batches:
            arms = pdf["arm"].astype(int)
            n0 += int((arms == 0).sum())
            n1 += int((arms == 1).sum())
        state.update((n0, n1))
        chi2 = (n0 - n1) ** 2 / (n0 + n1) if n0 + n1 else 0.0
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_arm0": [n0],
                "n_arm1": [n1],
                "srm_chi2": [round(chi2, 6)],
                "srm_flag": [int(chi2 > SRM_CRIT_95)],
            }
        )

    return armed.groupBy("event_type").applyInPandasWithState(
        monitor,
        outputStructType=_SRM_OUT_SCHEMA,
        stateStructType=_SRM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming CEP row-pattern alerts ----------------------------------------

_CEP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cur_day", T.StringType()),
        T.StructField("seq", T.StringType()),
    ]
)
_CEP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("day", T.StringType()),
        T.StructField("m_view_to_purchase", T.LongType()),
        T.StructField("m_error_burst", T.LongType()),
        T.StructField("m_signup_then_click", T.LongType()),
        T.StructField("m_click_abandoned", T.LongType()),
    ]
)


def _cep_alerts_fn(patterns: tuple):
    """Build the applyInPandasWithState function for stream_pattern_alerts
    (module-level so the late-event drop policy is unit-testable with a
    fake GroupState)."""

    def alerts(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import re  # noqa: PLC0415

        cur_day, seq = state.get if state.exists else (None, "")
        out: list[tuple] = []

        def finalize(day: str, s: str) -> None:
            out.append(
                (key[0], day)
                + tuple(len(re.findall(p, s)) for _, p in patterns)
            )

        for pdf in batches:
            pdf = pdf.sort_values(["ts", "event_id"])
            days = pdf["ts"].dt.strftime("%Y-%m-%d")
            inis = pdf["event_type"].str[0]
            for day, ini in zip(days, inis):
                if cur_day is None:
                    cur_day = day
                elif day > cur_day:
                    finalize(cur_day, seq)
                    cur_day, seq = day, ""
                elif day < cur_day:
                    # late cross-batch event from an already-advanced
                    # day: dropping it preserves the finalized census
                    # (the open day must NOT be emitted early and the
                    # old day must not re-accumulate) — the same policy
                    # a watermark would enforce
                    continue
                seq += ini
        state.update((cur_day, seq))
        if out:
            yield pd.DataFrame(
                out, columns=[f.name for f in _CEP_OUT_SCHEMA.fields]
            )

    return alerts


def stream_pattern_alerts(events: DataFrame) -> DataFrame:
    """Streaming CEP twin of the batch row-pattern census
    (operators/events.event_pattern_matches): per user, the current day's
    event-initial string accumulates as keyed state (two strings per
    user — bounded by events-per-user-day); when a later day's first
    event arrives, the COMPLETED day is finalized — every pattern counted
    over the full-day string — and emitted as an alert row. Day-close
    finalization is what makes the end-anchored pattern (`c[^p]*$`)
    well-defined mid-stream, and makes each emitted row byte-equal to the
    batch op's census for that (user, day).

    Rows process in (ts, event_id) order within each micro-batch, so a
    pandas replay is deterministic (tests/test_streaming.py). The still-
    open day stays in state, unemitted — the same contract as a session
    window before its gap timeout. A day is finalized only when a LATER
    day opens (day > cur_day); a late cross-batch event from a day
    already finalized (day < cur_day) is dropped, exactly as a watermark
    would drop it — it neither re-opens the old day nor prematurely
    emits the current one, so emitted rows stay byte-equal to the batch
    census for in-watermark data."""
    from database_toolbox_spark.operators.events import (  # noqa: PLC0415
        _CEP_PATTERNS,
    )

    patterns = tuple(_CEP_PATTERNS)  # plain data: pickles by value

    return events.groupBy("user_id").applyInPandasWithState(
        _cep_alerts_fn(patterns),
        outputStructType=_CEP_OUT_SCHEMA,
        stateStructType=_CEP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming Count-Min sketch ----------------------------------------------

_CMS_STREAM_STATE_SCHEMA = T.StructType(
    [T.StructField("counts", T.ArrayType(T.LongType()))]
)
_CMS_STREAM_OUT_SCHEMA = T.StructType(
    [
        T.StructField("r", T.IntegerType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("cell", T.LongType()),
    ]
)


def stream_count_min(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch Count-Min build
    (operators/sketches.count_min_sketch_accuracy): each event explodes
    into its CMS_D hash rows with the SAME md5 bucket derivation as the
    batch op, each row's w counters live as ONE keyed state array, and
    every micro-batch emits the row's non-zero cells. CMS cells are
    plain sums, so after the final micro-batch the streaming cells must
    equal the batch sketch EXACTLY (asserted in tests) — the mergeable-
    counter property that makes CMS the standard distributed frequency
    sketch, demonstrated as state rather than claimed.

    State budget: CMS_D keys x CMS_W longs — constant, independent of
    stream length; the update is a numpy scatter-add per Arrow batch."""
    from database_toolbox_spark.operators.sketches import (  # noqa: PLC0415
        CMS_D,
        CMS_W,
    )

    w = CMS_W  # plain ints: pickle by value into the state fn

    hashed = events.select(
        F.expr(f"explode(sequence(0, {CMS_D - 1}))").alias("r"),
        F.col("event_type").alias("item"),
    ).select(
        "r",
        F.expr(
            f"CAST(abs(CAST(conv(substring(md5(concat(item, '#',"
            f" CAST(r AS STRING))), 1, 8), 16, 10) AS BIGINT))"
            f" % {CMS_W} AS INT)"
        ).alias("bucket"),
    )

    def fold(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np  # noqa: PLC0415

        (counts,) = state.get if state.exists else ([0] * w,)
        arr = np.asarray(counts, dtype="int64")
        for pdf in batches:
            np.add.at(arr, pdf["bucket"].to_numpy(), 1)
        state.update((arr.tolist(),))
        nz = np.nonzero(arr)[0]
        yield pd.DataFrame(
            {
                "r": np.full(len(nz), key[0], dtype="int32"),
                "bucket": nz.astype("int32"),
                "cell": arr[nz],
            }
        )

    return hashed.groupBy("r").applyInPandasWithState(
        fold,
        outputStructType=_CMS_STREAM_OUT_SCHEMA,
        stateStructType=_CMS_STREAM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming train/eval decontamination ------------------------------------------

DOCS_SRC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def read_docs_source_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """(doc_id, source, text) documents as a file-source stream — the
    ingest shape of the decontamination twin (the near-dup stream's
    2-column reader predates the source column)."""
    return (
        spark.readStream.schema(DOCS_SRC_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src_dir)
    )


def decon_eval_grams(docs: DataFrame) -> DataFrame:
    """(eval_id, g) distinct word n-grams of the eval slice — the static
    benchmark-gram artifact the streaming screen probes. Built once from
    a STATIC documents DataFrame; in production this is the precomputed
    benchmark fingerprint file every ingest worker broadcasts."""
    from database_toolbox_spark.operators.dedup import (  # noqa: PLC0415
        DECON_EVAL_SOURCE,
        DECON_N,
    )

    parts = ", ".join(f"element_at(w, i + {j})" for j in range(DECON_N))
    return (
        docs.where(F.col("source") == DECON_EVAL_SOURCE)
        .selectExpr("doc_id AS eval_id", "split(text, ' ') AS w")
        .where(f"size(w) >= {DECON_N}")
        .selectExpr(
            "eval_id",
            f"explode(array_distinct(transform(sequence(1, size(w) -"
            f" {DECON_N - 1}), i -> concat_ws('_', {parts})))) AS g",
        )
    )


def stream_decontamination(
    docs: DataFrame, eval_grams: DataFrame, flags_dir: str,
    checkpoint_dir: str,
):
    """Ingest-time benchmark-leakage screen — the streaming twin of
    operators/dedup.ngram_decontamination: each micro-batch of training
    documents is exploded into distinct word n-grams and probed against
    the STATIC eval-gram relation; contaminated docs land in the flags
    sink with the same (n_hit, n_eval_docs, n_grams, contaminated_frac)
    columns the batch query reports.

    Unlike the near-dup twin this screen needs NO cross-batch state:
    the eval grams are a fixed broadcast dimension, each arriving doc is
    judged on its own, and the per-epoch `batch_id=<n>` overwrite makes
    replays idempotent. Scale shape: the same broadcast equi-join as the
    batch op, applied per micro-batch — per-epoch cost is O(batch), the
    eval side is benchmark-sized forever."""
    from database_toolbox_spark.operators._oracle import R  # noqa: PLC0415
    from database_toolbox_spark.operators.dedup import (  # noqa: PLC0415
        DECON_EVAL_SOURCE,
        DECON_N,
    )

    parts = ", ".join(f"element_at(w, i + {j})" for j in range(DECON_N))
    ev = eval_grams

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        grams = (
            batch_df.where(F.col("source") != DECON_EVAL_SOURCE)
            .selectExpr("doc_id", "source", "split(text, ' ') AS w")
            .where(f"size(w) >= {DECON_N}")
            .selectExpr(
                "doc_id", "source",
                f"explode(array_distinct(transform(sequence(1, size(w) -"
                f" {DECON_N - 1}), i -> concat_ws('_', {parts})))) AS g",
            )
        )
        tot = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
        hit = (
            grams.join(F.broadcast(ev), "g")
            .groupBy("doc_id", "source")
            .agg(
                F.countDistinct("g").alias("n_hit"),
                F.countDistinct("eval_id").alias("n_eval_docs"),
            )
        )
        flags = hit.join(tot, "doc_id").selectExpr(
            "doc_id", "source",
            "CAST(n_hit AS BIGINT) AS n_hit",
            "CAST(n_eval_docs AS BIGINT) AS n_eval_docs",
            "CAST(n_grams AS BIGINT) AS n_grams",
            f"{R('n_hit * 1e0 / n_grams', 6)} AS contaminated_frac",
        )
        flags.coalesce(1).write.mode("overwrite").parquet(
            f"{flags_dir}/batch_id={batch_id}"
        )

    return (
        docs.writeStream.foreachBatch(probe)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def read_decon_flags(spark: SparkSession, flags_dir: str) -> DataFrame:
    """All contamination flags across epochs (each doc arrives once, so
    rows are already unique)."""
    return (
        spark.read.option("basePath", flags_dir)
        .parquet(f"{flags_dir}/batch_id=*")
        .select("doc_id", "source", "n_hit", "n_eval_docs", "n_grams",
                "contaminated_frac")
    )


# --- streaming DoReMi domain-weight twin --------------------------------------------

DOCS_LANG_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def read_docs_lang_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """(doc_id, source, lang, text) documents as a file-source stream —
    the DoReMi twin needs the label column the decontamination reader
    omits."""
    return (
        spark.readStream.schema(DOCS_LANG_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src_dir)
    )


def _doremi_spark_feat(src: str) -> str:
    from database_toolbox_spark.operators.curation import (  # noqa: PLC0415
        _doremi_feat_ctes,
    )
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    return _doremi_feat_ctes(
        "split(text, ' ')", "size", "array_distinct", "filter",
        _sql_list(STOPWORDS), src=src,
    )


def stream_doremi_gradient(
    docs: DataFrame, grad_dir: str, checkpoint_dir: str
):
    """Phase 1 of the streaming DoReMi twin (the mixing tier's
    incremental spelling — round-11 verdict item 7): every micro-batch
    folds its documents into INTEGER gradient partials (n, g0..g3 on the
    1e-6 grid — exactly the batch op's agg CTE over the batch slice) and
    lands them in an idempotent `batch_id=<n>` partition. Integer adds
    are order-free, so summing the partials reproduces the batch
    gradient bit-for-bit regardless of arrival order."""
    from database_toolbox_spark.operators.curation import (  # noqa: PLC0415
        _doremi_gcols,
    )

    gcols = ", ".join(_doremi_gcols())

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.createOrReplaceTempView("doremi_grad_batch")
        part = spark.sql(
            f"WITH {_doremi_spark_feat('doremi_grad_batch')} "
            f"SELECT count(*) AS n, {gcols} FROM feat"
        )
        part.coalesce(1).write.mode("overwrite").parquet(
            f"{grad_dir}/batch_id={batch_id}"
        )

    return (
        docs.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def doremi_stream_weights(spark: SparkSession, grad_dir: str) -> list:
    """Fold the phase-1 gradient partials into the frozen proxy-model
    weight vector — the same `-LR * g / (1e6 * n)` IEEE sequence the
    batch op's w CTE evaluates, on the same exact integer sums, so every
    weight double is bit-identical to the batch op's."""
    from database_toolbox_spark.operators.curation import (  # noqa: PLC0415
        LGD_FEATURES,
        LGD_LR,
    )

    rows = (
        spark.read.option("basePath", grad_dir)
        .parquet(f"{grad_dir}/batch_id=*")
        .collect()
    )  # guard-exempt: bounded driver fetch (one 5-int row per micro-batch)
    n = sum(r["n"] for r in rows)
    return [
        -LGD_LR * sum(r[f"g{j}"] or 0 for r in rows) / (1000000.0 * n)
        for j in range(len(LGD_FEATURES))
    ]


def stream_doremi_losses(
    docs: DataFrame, weights: list, loss_dir: str, checkpoint_dir: str
):
    """Phase 2: per-micro-batch per-domain loss partials under the
    FROZEN weight vector (embedded as exact repr literals, cast from
    string so the doubles round-trip bit-for-bit): (source, n_i, pos,
    lsum) — the batch op's dom CTE over the batch slice, integer lsum so
    cross-batch folds are order-free exact."""
    from database_toolbox_spark.operators.curation import (  # noqa: PLC0415
        _doremi_dom_select,
        _doremi_margin,
    )

    margin = _doremi_margin(
        lambda j: f"CAST('{weights[j]!r}' AS DOUBLE)"
    )
    dom = _doremi_dom_select(margin, src="feat f")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.createOrReplaceTempView("doremi_loss_batch")
        part = spark.sql(
            f"WITH {_doremi_spark_feat('doremi_loss_batch')} {dom}"
        )
        part.coalesce(1).write.mode("overwrite").parquet(
            f"{loss_dir}/batch_id={batch_id}"
        )

    return (
        docs.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def doremi_stream_final(spark: SparkSession, loss_dir: str) -> DataFrame:
    """Fold the per-batch domain partials (exact integer adds) and run
    the batch op's own ref/upd/tot tail over the folded relation — the
    final weights equal operators/curation.doremi_domain_weights
    byte-for-byte (asserted in tests/test_streaming.py)."""
    from database_toolbox_spark.operators.curation import (  # noqa: PLC0415
        _DOREMI_FINAL_SELECT,
        _doremi_tail_ctes,
    )

    spark.read.option("basePath", loss_dir).parquet(
        f"{loss_dir}/batch_id=*"
    ).createOrReplaceTempView("doremi_loss_parts")
    return spark.sql(f"""
        WITH domf AS (
            SELECT source, sum(n_i) AS n_i, sum(pos) AS pos,
                   sum(lsum) AS lsum
            FROM doremi_loss_parts GROUP BY source
        ),
        {_doremi_tail_ctes("domf")}
        {_DOREMI_FINAL_SELECT}
    """)
