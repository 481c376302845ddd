"""MERGE / CDC-style upsert emulation.

The reference *denies* MERGE at the tool surface
(`/root/reference/images/snowflake-mcp/entrypoint.sh:222`), but a data
pipeline still needs upsert semantics internally. Without a lakehouse format
(no Delta/Iceberg jars in this environment — SURVEY.md sources note), MERGE
INTO is emulated the classic way: anti-join the target against the change
keys, union the surviving rows with updated + inserted rows. One shuffle on
the merge key; at scale the change set is typically broadcastable.

The change batch here is derived deterministically from the data itself
(no RNG) so the oracle can replay the same merge in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_toolbox_spark.functions import money
from database_toolbox_spark.operators._oracle import R
from database_toolbox_spark.session import load_table, load_tables, materialize


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emulated MERGE INTO orders:
    - WHEN MATCHED (status 'P'): price +10%, status → 'M'
    - WHEN NOT MATCHED (synthetic new keys = pending key + 10^9): insert
    Output: the merged table, aggregated per status for a compact check.

    The change set (the MERGE source delta) is MATERIALIZED once — plan
    inlining otherwise replays the pending-orders scan for each of its
    references (5 orders scans); a real MERGE computes its delta once and
    reads the target once."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    pending = orders.filter(F.col("o_orderstatus") == "P")
    updates = pending.select(
        "o_orderkey",
        F.lit("M").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
    )
    inserts = pending.select(
        (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.col("o_totalprice"),
    )
    changes = materialize(updates.unionByName(inserts))
    untouched = orders.join(changes, "o_orderkey", "left_anti")
    merged = untouched.unionByName(changes)
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            money(F.sum("o_totalprice")).alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


def _diff_sql(bucket_expr: str) -> str:
    """CDC-style snapshot diff: old = buckets 0-89, new = buckets 10-99
    with prices bumped in buckets 40-49 — full outer join on the key,
    rows classified added/removed/changed/unchanged. bucket_expr renders
    the deterministic 0-99 md5 bucket per dialect (rand() would neither
    reproduce nor cross-check)."""
    return f"""
        WITH bucketed AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice,
                   {bucket_expr} AS b
            FROM orders
        ),
        old AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM bucketed WHERE b < 90
        ),
        new AS (
            SELECT o_orderkey, o_orderstatus,
                   CASE WHEN b BETWEEN 40 AND 49
                        THEN o_totalprice + 100e0
                        ELSE o_totalprice END AS o_totalprice
            FROM bucketed WHERE b >= 10
        )
        SELECT CASE
                   WHEN o.o_orderkey IS NULL THEN 'added'
                   WHEN n.o_orderkey IS NULL THEN 'removed'
                   WHEN o.o_totalprice <> n.o_totalprice
                     OR o.o_orderstatus <> n.o_orderstatus THEN 'changed'
                   ELSE 'unchanged'
               END AS change_type,
               count(*) AS n_rows
        FROM old o
        FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
        GROUP BY 1
        ORDER BY change_type
    """


def dataset_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / drift check between two dataset versions — the CDC
    companion to MERGE: full outer join on the key, per-row change
    classification, counts by change type. At scale both sides hash-
    partition on the key (one shuffle each); no row leaves the cluster."""
    load_table(spark, sf_dir, "orders")
    return spark.sql(_diff_sql(
        "CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 4), 16, 10)"
        " AS INT) % 100"
    ))


_SCD2_SQL = f"""
    WITH dim AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN v.n = 0 THEN DATE '1990-01-01'
                    ELSE DATE '1996-01-01' END AS valid_from,
               CASE WHEN v.n = 0 THEN DATE '1996-01-01'
                    ELSE DATE '2999-01-01' END AS valid_to,
               CASE WHEN v.n = 0 THEN c_mktsegment
                    ELSE concat('V2_', c_mktsegment) END AS segment_version
        FROM customer
        CROSS JOIN (SELECT 0 AS n UNION ALL SELECT 1) v
    )
    SELECT d.segment_version,
           count(*) AS n_orders,
           {R("sum(o.o_totalprice)")} AS total_price
    FROM orders o
    JOIN dim d
      ON d.c_custkey = o.o_custkey
     AND o.o_orderdate >= d.valid_from
     AND o.o_orderdate < d.valid_to
    GROUP BY d.segment_version
    ORDER BY d.segment_version
"""


def scd2_point_in_time_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (SCD2) dimension join: each order joins the dimension
    VERSION that was valid on its order date — the versioned-dim lookup every
    warehouse ETL runs. The dimension here is customer with two synthesized
    validity windows split at 1996-01-01 (deterministic, no RNG).

    Scale shape: an equi-join on the surrogate key with the validity window
    as a residual predicate — per-key fan-out is the (small) version count,
    so this stays a hash join; no range-binning needed (unlike event interval
    joins where both sides are dense in time). Identical SQL on both
    engines."""
    load_tables(spark, sf_dir)
    return spark.sql(_SCD2_SQL)


_CDC_SQL = f"""
        WITH stream AS (
            SELECT o_orderkey, 1 AS seq, 'I' AS op,
                   o_orderstatus, o_totalprice
            FROM orders
            UNION ALL
            SELECT o_orderkey, 2 AS seq, 'U' AS op,
                   'M' AS o_orderstatus,
                   o_totalprice * 1.05e0 AS o_totalprice
            FROM orders WHERE o_orderstatus = 'P'
            UNION ALL
            SELECT o_orderkey, 3 AS seq, 'D' AS op,
                   CAST(NULL AS STRING) AS o_orderstatus,
                   CAST(NULL AS DOUBLE) AS o_totalprice
            FROM orders WHERE o_orderkey % 10 = 0
        ),
        latest AS (
            SELECT o_orderkey, seq, op, o_orderstatus, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderkey
                       ORDER BY seq DESC) AS rn
            FROM stream
        )
        SELECT o_orderstatus,
               count(*) AS n_rows,
               {R("sum(o_totalprice)")} AS sum_price
        FROM latest
        WHERE rn = 1 AND op <> 'D'
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
"""


def cdc_net_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-stream compaction (last-writer-wins): a deterministic
    insert/update/delete stream derived from orders is compacted to the net
    row image per key — the ingest-side twin of merge_upsert_orders (that
    one applies a delta to a target; this one collapses the raw op log
    itself, the shape a lakehouse ingest job runs before MERGE).

    Scale shape: one row_number window PARTITIONED BY the merge key (no
    global state), then a grouped count — both shuffles are keyed; the op
    log never needs to be ordered globally. Identical SQL on both
    engines."""
    load_table(spark, sf_dir, "orders")
    return spark.sql(_CDC_SQL)


QUERIES = {
    "scd2_point_in_time_totals": scd2_point_in_time_totals,
    "merge_upsert_orders": merge_upsert_orders,
    "dataset_diff_summary": dataset_diff_summary,
    "cdc_net_changes": cdc_net_changes,
}

ORACLE = {
    "scd2_point_in_time_totals": _SCD2_SQL,
    "cdc_net_changes": _CDC_SQL,
    "dataset_diff_summary": _diff_sql(
        "CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))"
        " AS INTEGER) % 100"
    ),
    "merge_upsert_orders": f"""
        WITH target AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        ),
        updates AS (
            SELECT o_orderkey, 'M' AS o_orderstatus,
                   o_totalprice * 1.1 AS o_totalprice
            FROM target WHERE o_orderstatus = 'P'
        ),
        inserts AS (
            SELECT o_orderkey + 1000000000 AS o_orderkey,
                   'N' AS o_orderstatus, o_totalprice
            FROM target WHERE o_orderstatus = 'P'
        ),
        changes AS (
            SELECT * FROM updates UNION ALL SELECT * FROM inserts
        ),
        merged AS (
            SELECT t.* FROM target t
            WHERE NOT EXISTS (SELECT 1 FROM changes c
                              WHERE c.o_orderkey = t.o_orderkey)
            UNION ALL
            SELECT * FROM changes
        )
        SELECT o_orderstatus,
               count(*) AS n_orders,
               {R("sum(o_totalprice)")} AS sum_price
        FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
}


# --- SCD2 validity-chain integrity audit ---------------------------------------


def _scd2_audit_sql(aud_src: str, mat: str = "") -> str:
    """Integrity audit of a versioned (SCD2-style) dimension derived from
    event history: per user, each run of consecutive same-type events is a
    version valid over [first ts, last ts] — the "closed at last
    activity" convention real CDC pipelines emit. The audit walks each
    key's version chain in validity order and classifies every adjacent
    pair: OVERLAP (next starts before the previous closed — double-counted
    history, here only microsecond ties can produce it), CONTIGUOUS
    (exactly adjacent) or GAP (uncovered history), plus the covered share
    of each key's lifespan. The Kimball §"slowly changing dimensions"
    validity invariants, measured instead of assumed."""
    return f"""
        WITH aud AS {mat}(
            {aud_src}
        ),
        pairs AS (
            SELECT CASE WHEN vfrom < prev_to THEN 1 ELSE 0 END AS ovl,
                   CASE WHEN vfrom = prev_to THEN 1 ELSE 0 END AS cont,
                   CASE WHEN vfrom > prev_to THEN 1 ELSE 0 END AS gap,
                   CASE WHEN vfrom > prev_to
                        THEN (vfrom - prev_to) / 1e6 END AS gap_s
            FROM aud WHERE prev_to IS NOT NULL
        ),
        cover AS (
            SELECT user_id,
                   sum(vto - vfrom) AS covered,
                   max(vto) - min(vfrom) AS lifespan
            FROM aud GROUP BY user_id
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM cover) AS n_keys,
               (SELECT CAST(count(*) AS BIGINT) FROM aud) AS n_versions,
               CAST(sum(ovl) AS BIGINT) AS n_overlaps,
               CAST(sum(cont) AS BIGINT) AS n_contiguous,
               CAST(sum(gap) AS BIGINT) AS n_gaps,
               {R("avg(gap_s)", 4)} AS avg_gap_s,
               {R("max(gap_s)", 4)} AS max_gap_s,
               (SELECT {R("sum(covered) * 1e2 / sum(lifespan)", 4)}
                FROM cover) AS coverage_pct
        FROM pairs
    """


def _scd2_aud_body(us: str) -> str:
    return f"""
            SELECT user_id, vfrom, vto,
                   lag(vto) OVER (PARTITION BY user_id
                                  ORDER BY vfrom, vto) AS prev_to
            FROM (
                SELECT user_id,
                       min({us}) AS vfrom,
                       max({us}) AS vto
                FROM (
                    SELECT user_id, event_type, ts, event_id,
                           row_number() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS rn,
                           row_number() OVER (PARTITION BY user_id,
                                                           event_type
                               ORDER BY ts, event_id) AS rnt
                    FROM events
                ) seq
                GROUP BY user_id, event_type, rn - rnt
            ) runs
"""


def scd2_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap/overlap/coverage audit of the event-derived SCD2 version chains
    (see _scd2_audit_sql) — the validity-window data-quality check next to
    referential_integrity_audit and functional_dependency_audit.

    Scale shape: user-keyed windows end to end (sequencing, run grouping,
    chain walk); the audited relation is materialized once and feeds both
    the pair classification and the per-key coverage rollup — inlining
    would replay three corpus windows per reader. Exact integer
    microsecond arithmetic until the final divisions."""
    load_tables(spark, sf_dir)
    us = "unix_micros(CAST(ts AS TIMESTAMP))"
    materialize(
        spark.sql("SELECT * FROM (" + _scd2_aud_body(us) + ") x")
    ).createOrReplaceTempView("scd2_aud_v")
    return spark.sql(_scd2_audit_sql("SELECT * FROM scd2_aud_v"))


QUERIES["scd2_integrity_audit"] = scd2_integrity_audit
ORACLE["scd2_integrity_audit"] = _scd2_audit_sql(
    _scd2_aud_body("epoch_us(ts)"), mat="MATERIALIZED "
)
