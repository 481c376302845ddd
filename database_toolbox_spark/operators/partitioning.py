"""Partition pruning (SURVEY.md §4: static + dynamic partition pruning —
"none (only if we partition the testdata)" — here we do partition a copy).

A Hive-partitioned copy of `orders` (partitioned by o_orderstatus) is
written once per sf_dir under /tmp. Two pruning paths:

- static: a literal filter on the partition column → the scan lists only
  matching directories (PartitionFilters in the plan, asserted in
  tests/test_plans.py).
- dynamic (DPP): the partition filter arrives through a join with a small
  filtered dimension → Spark injects a runtime `dynamicpruning` subquery so
  only the surviving partitions are read. At 100 TB this is the difference
  between scanning one date partition and scanning the table.

Both are oracle-checked against the unpartitioned table: partitioning
changes I/O, never answers.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_toolbox_spark.functions import money
from database_toolbox_spark.operators._oracle import R
from database_toolbox_spark.session import (
    load_table,
    load_tables,
    local_frame,
    materialize,
)

_STATUS_DIM = [("O", "open"), ("F", "finished"), ("P", "pending")]


def ensure_partitioned_orders(spark: SparkSession, sf_dir: str) -> str:
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"dts_part_orders_{tag}")
    if not os.path.isdir(path):
        (
            load_table(spark, sf_dir, "orders")
            .write.partitionBy("o_orderstatus")
            .mode("overwrite")
            .parquet(path)
        )
    return path


def _status_dim(spark: SparkSession) -> DataFrame:
    """The status dimension, written once as parquet and read back like a
    warehouse dimension. DPP needs the dimension's filter to survive
    optimization; over driver-local rows Catalyst evaluates the filter at
    plan time into a smaller LocalRelation, leaving no predicate to prune
    with."""
    path = os.path.join(tempfile.gettempdir(), "dts_status_dim")
    if not os.path.isdir(path):
        dim = local_frame(spark, _STATUS_DIM, "status string, label string")
        dim.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def partition_pruned_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static pruning: literal partition-column filter reads one directory."""
    path = ensure_partitioned_orders(spark, sf_dir)
    orders = spark.read.parquet(path)
    return (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            money(F.sum("o_totalprice")).alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


def dynamic_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the partition filter comes from a joined
    dimension filtered on a non-partition attribute."""
    path = ensure_partitioned_orders(spark, sf_dir)
    orders = spark.read.parquet(path)
    dim = _status_dim(spark)
    open_dim = F.broadcast(dim.filter(F.col("label") == "open"))
    return (
        orders.join(open_dim, orders.o_orderstatus == open_dim.status)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_orders"),
            money(F.sum("o_totalprice")).alias("sum_price"),
        )
        .orderBy("label")
    )


def _zorder_expr(x: str, y: str, bits: int = 16) -> str:
    """Morton/Z-order interleave of two {bits}-bit coordinates — plain
    shifts/ANDs, bit-identical in Spark SQL and DuckDB (no engine ^/xor,
    which DuckDB parses as exponentiation)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def _zorder_sql(day_expr: str) -> str:
    """day_expr = days since 1995-01-01 (datediff argument order differs per
    dialect). Coordinates are min/max-normalized to 8 bits (the standard
    Z-order prep — raw keys occupy only low bits and would collapse the
    curve), giving a 16-bit z and 64 prefix buckets."""
    return f"""
        WITH raw AS (
            SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
                   CAST({day_expr} AS BIGINT) AS d
            FROM orders
        ),
        bounds AS (
            SELECT min(o_custkey) AS cmin, max(o_custkey) AS cmax,
                   min(d) AS dmin, max(d) AS dmax
            FROM raw
        ),
        coords AS (
            SELECT o_custkey, od,
                   CAST(floor((o_custkey - cmin) * 256e0 / (cmax - cmin + 1))
                        AS BIGINT) AS x,
                   CAST(floor((d - dmin) * 256e0 / (dmax - dmin + 1))
                        AS BIGINT) AS y
            FROM raw, bounds
        ),
        z AS (
            SELECT ({_zorder_expr("x", "y", bits=8)}) AS zval, o_custkey, od
            FROM coords
        )
        SELECT CAST(zval >> 10 AS BIGINT) AS z_bucket,
               count(*) AS n_rows,
               min(o_custkey) AS min_custkey, max(o_custkey) AS max_custkey,
               min(od) AS min_date, max(od) AS max_date
        FROM z
        GROUP BY CAST(zval >> 10 AS BIGINT)
        ORDER BY z_bucket
    """


def zorder_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout: interleave customer-key and order-day bits,
    bucket by z-prefix, report per-bucket min/max of BOTH dimensions.

    The 100 TB point: sorting/range-partitioning files by zval makes each
    file's (custkey, date) min/max stats tight in both dimensions at once,
    so scans filtered on EITHER column skip most files — one layout serves
    two predicate families (single-column sort serves only one). The
    per-bucket bounds this query emits are exactly the file-skipping stats
    a lakehouse keeps; the SQL is shared up to the datediff spelling."""
    load_table(spark, sf_dir, "orders")
    return spark.sql(_zorder_sql(
        "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"
    ))


HILBERT_N = 256  # 8-bit grid per dimension → 16-bit curve index
_H_LEVELS = HILBERT_N.bit_length() - 1      # reflect/rotate levels (8)
_H_BUCKET_SHIFT = 2 * _H_LEVELS - 6         # keep 6 prefix bits → 64 buckets


def _hilbert_ctes(carry: str) -> str:
    """Unrolled Hilbert xy→d transform (the classic reflect/rotate loop,
    8 levels for an 8-bit grid) as chained CTEs h0→h8. The input CTE h0
    must provide (x, y, d=0, {carry}); h8 carries the final d. The
    quadrant digit (3·rx)⊕ry is spelled as a CASE — DuckDB parses ^ as
    exponentiation, and the xor of a 2-bit/1-bit pair has only four
    outcomes anyway."""
    parts = []
    s = HILBERT_N // 2
    k = 0
    while s > 0:
        parts.append(f"""h{k + 1} AS (
            SELECT {carry},
                   CASE WHEN (y & {s}) > 0 THEN x
                        WHEN (x & {s}) > 0 THEN {HILBERT_N - 1} - y
                        ELSE y END AS x,
                   CASE WHEN (y & {s}) > 0 THEN y
                        WHEN (x & {s}) > 0 THEN {HILBERT_N - 1} - x
                        ELSE x END AS y,
                   d + {s * s} * (CASE
                        WHEN (x & {s}) > 0 AND (y & {s}) > 0 THEN 2
                        WHEN (x & {s}) > 0 THEN 3
                        WHEN (y & {s}) > 0 THEN 1
                        ELSE 0 END) AS d
            FROM h{k}
        )""")
        s //= 2
        k += 1
    return ",\n        ".join(parts)


def _hilbert_sql(day_expr: str) -> str:
    """Same normalization/bucketing contract as _zorder_sql, but ordered
    by the Hilbert curve: adjacent curve indices are ALWAYS grid
    neighbors (Z-order jumps at power-of-two seams), so per-bucket
    min/max boxes are tighter on average — better file skipping from
    the same 64 buckets."""
    return f"""
        WITH raw AS (
            SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
                   CAST({day_expr} AS BIGINT) AS d
            FROM orders
        ),
        bounds AS (
            SELECT min(o_custkey) AS cmin, max(o_custkey) AS cmax,
                   min(d) AS dmin, max(d) AS dmax
            FROM raw
        ),
        h0 AS (
            SELECT o_custkey, od,
                   CAST(floor((o_custkey - cmin) * {HILBERT_N}e0
                        / (cmax - cmin + 1)) AS BIGINT) AS x,
                   CAST(floor((d - dmin) * {HILBERT_N}e0
                        / (dmax - dmin + 1)) AS BIGINT) AS y,
                   CAST(0 AS BIGINT) AS d
            FROM raw, bounds
        ),
        {_hilbert_ctes("o_custkey, od")}
        SELECT CAST(d >> {_H_BUCKET_SHIFT} AS BIGINT) AS h_bucket,
               count(*) AS n_rows,
               min(o_custkey) AS min_custkey, max(o_custkey) AS max_custkey,
               min(od) AS min_date, max(od) AS max_date
        FROM h{_H_LEVELS}
        GROUP BY CAST(d >> {_H_BUCKET_SHIFT} AS BIGINT)
        ORDER BY h_bucket
    """


def hilbert_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout (zorder_bucket_stats' locality sibling): the
    Hilbert curve visits every grid cell through adjacent steps only.
    At quadrant-ALIGNED prefixes (this query's 64 power-of-two buckets)
    Hilbert and Morton induce the same space partition, just renumbered
    — the win appears when file splits are NOT seam-aligned (real file
    sizing): equal-length curve segments then stay contiguous under
    Hilbert while Morton segments jump across seams, giving ~15%
    smaller average per-file bounding-box AREA on this fixture
    (asserted in tests/test_quality.py::test_hilbert_beats_zorder...).
    The transform is 8 unrolled reflect/rotate levels of plain
    arithmetic per row (no UDF, no shuffle before the bucket
    aggregate), proven bit-equal to the canonical xy2d loop; identical
    SQL both engines up to the datediff spelling."""
    load_table(spark, sf_dir, "orders")
    return spark.sql(_hilbert_sql(
        "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"
    ))


QUERIES = {
    "partition_pruned_totals": partition_pruned_totals,
    "dynamic_pruned_join": dynamic_pruned_join,
    "zorder_bucket_stats": zorder_bucket_stats,
    "hilbert_bucket_stats": hilbert_bucket_stats,
}

ORACLE = {
    "zorder_bucket_stats": _zorder_sql(
        "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))"
    ),
    "hilbert_bucket_stats": _hilbert_sql(
        "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))"
    ),
    "partition_pruned_totals": f"""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               {R("sum(o_totalprice)")} AS sum_price
        FROM orders
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "dynamic_pruned_join": f"""
        WITH dim(status, label) AS (
            VALUES ('O', 'open'), ('F', 'finished'), ('P', 'pending')
        )
        SELECT d.label,
               count(*) AS n_orders,
               {R("sum(o.o_totalprice)")} AS sum_price
        FROM orders o JOIN dim d ON o.o_orderstatus = d.status
        WHERE d.label = 'open'
        GROUP BY d.label
        ORDER BY d.label
    """,
}


# --- layout pruning simulation ---------------------------------------------------
PRUNE_FILES = 64
PRUNE_LO = "1997-07-01"
PRUNE_HI = "1997-08-01"


def _prune_sim_sql(days: str) -> str:
    """File-skipping simulation: assign every order to one of
    {PRUNE_FILES} simulated files under two layouts — date-CLUSTERED
    (equi-width on the order-date axis: what sorting/partitioning by date
    produces, without needing a global sort to simulate) and md5-RANDOM
    (ingestion order) — then evaluate a one-month predicate against each
    file's [min, max] date zone map, exactly as parquet row-group pruning
    and Delta/Iceberg file skipping do. skip_pct IS the scan-cost ratio
    the layout choice buys: the clustered layout skips all but ~1/12 of
    files, the random layout skips ~none because every file's min/max
    straddles the predicate (Moerkotte, "Small Materialized Aggregates",
    VLDB 1998 — the zone-map paper)."""
    return f"""
        WITH base AS (
            SELECT o_orderkey, o_orderdate, {days} AS d FROM orders
        ),
        bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM base),
        assigned AS (
            SELECT b.o_orderkey, b.o_orderdate,
                   least(CAST(floor((b.d - bo.lo) * {PRUNE_FILES}e0
                                    / (bo.hi - bo.lo + 1)) AS INT),
                         {PRUNE_FILES} - 1) AS f_clustered,
                   CAST(concat('0x',
                        substr(md5(CAST(b.o_orderkey AS VARCHAR)), 1, 4))
                        AS INTEGER) % {PRUNE_FILES} AS f_random
            FROM base b CROSS JOIN bounds bo
        ),
        layouts AS (
            SELECT 'clustered' AS layout, f_clustered AS f, o_orderdate
            FROM assigned
            UNION ALL
            SELECT 'random' AS layout, f_random AS f, o_orderdate
            FROM assigned
        ),
        zones AS (
            SELECT layout, f,
                   min(o_orderdate) AS zmin, max(o_orderdate) AS zmax,
                   count(*) AS n_rows
            FROM layouts GROUP BY layout, f
        )
        SELECT layout,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(CASE WHEN zmin < TIMESTAMP '{PRUNE_HI} 00:00:00'
                              AND zmax >= TIMESTAMP '{PRUNE_LO} 00:00:00'
                             THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
               {R(f"sum(CASE WHEN zmin < TIMESTAMP '{PRUNE_HI} 00:00:00'"
                  f" AND zmax >= TIMESTAMP '{PRUNE_LO} 00:00:00'"
                  " THEN 0 ELSE 1 END) * 1e2 / count(*)", 2)} AS skip_pct,
               CAST(sum(CASE WHEN zmin < TIMESTAMP '{PRUNE_HI} 00:00:00'
                              AND zmax >= TIMESTAMP '{PRUNE_LO} 00:00:00'
                             THEN n_rows ELSE 0 END) AS BIGINT)
                   AS rows_scanned
        FROM zones
        GROUP BY layout
        ORDER BY layout
    """


def layout_pruning_simulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file-skipping comparison of a date-clustered vs a random
    layout for a one-month predicate (see _prune_sim_sql) — the measured
    argument for date clustering next to zorder_bucket_stats /
    hilbert_bucket_stats (which price multi-column spans).

    Scale shape: one scan to assign files (row-local arithmetic; the
    1-row bounds relation broadcasts), one grouped zone-map agg to
    {PRUNE_FILES}x2 rows, then a 2-row rollup. The simulation never
    sorts — equi-width date binning reproduces a clustered layout's zone
    maps without paying the global sort the real layout would. Spark
    spells md5-hex-to-int as conv(); the conv result is pre-masked to 16
    bits so both engines' modulo sees the same non-negative operand."""
    load_table(spark, sf_dir, "orders")
    return spark.sql(_prune_sim_sql(
        "datediff(o_orderdate, DATE '1992-01-01')"
    ).replace(
        "CAST(concat('0x',\n"
        "                        substr(md5(CAST(b.o_orderkey AS VARCHAR)),"
        " 1, 4))\n"
        "                        AS INTEGER)",
        "CAST(conv(substring(md5(CAST(b.o_orderkey AS STRING)), 1, 4),"
        " 16, 10) AS INT)",
    ))


QUERIES["layout_pruning_simulation"] = layout_pruning_simulation
ORACLE["layout_pruning_simulation"] = _prune_sim_sql(
    "datediff('day', DATE '1992-01-01', o_orderdate)"
)


# --- RLE encodability audit -------------------------------------------------------


def _rle_sql(days: str, md5int) -> str:
    """Run-length encodability of low-cardinality order columns under the
    date-CLUSTERED file layout (same 64-file equi-width binning as
    layout_pruning_simulation): within each file, rows sort by
    (o_orderdate, o_orderkey) and a column's storage cost under RLE is
    its RUN count (Abadi/Madden/Ferreira, SIGMOD 2006 — column
    compression picks RLE exactly when avg run length is high). The
    per-column runs-per-file numbers are what parquet's encoding chooser
    sees; rle_ratio = rows/runs is the compression leverage the sort
    order buys."""
    cols = ["o_orderstatus", "o_orderpriority"]
    branches = []
    for c in cols:
        branches.append(f"""
        SELECT '{c}' AS col, f, CAST(n_rows AS BIGINT) AS n_rows,
               CAST(n_runs AS BIGINT) AS n_runs
        FROM (
            SELECT f, count(*) AS n_rows,
                   sum(CASE WHEN prev IS NULL OR prev <> v
                            THEN 1 ELSE 0 END) AS n_runs
            FROM (
                SELECT f, {c} AS v,
                       lag({c}) OVER (PARTITION BY f
                           ORDER BY o_orderdate, o_orderkey) AS prev
                FROM assigned
            ) r GROUP BY f
        ) s""")
    union = "\n        UNION ALL\n".join(branches)
    return f"""
        WITH base AS (
            SELECT o_orderkey, o_orderdate, o_orderstatus, o_orderpriority,
                   {days} AS d
            FROM orders
        ),
        bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM base),
        assigned AS (
            SELECT b.*,
                   least(CAST(floor((b.d - bo.lo) * {PRUNE_FILES}e0
                                    / (bo.hi - bo.lo + 1)) AS INT),
                         {PRUNE_FILES} - 1) AS f
            FROM base b CROSS JOIN bounds bo
        ),
        per_file AS (
            {union}
        )
        SELECT col,
               CAST(sum(n_rows) AS BIGINT) AS n_rows,
               CAST(sum(n_runs) AS BIGINT) AS n_runs,
               {R("sum(n_rows) * 1e0 / sum(n_runs)", 4)} AS rle_ratio,
               {R("max(n_runs * 1e0 / n_rows)", 6)} AS worst_file_run_density
        FROM per_file
        GROUP BY col
        ORDER BY col
    """


def rle_encodability_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column RLE leverage under the simulated date-clustered layout
    (see _rle_sql) — the storage-side companion of
    layout_pruning_simulation: pruning prices the SCAN win of
    clustering, this prices the ENCODING win. Unsorted low-cardinality
    columns run at ~rle_ratio 1/(1-1/k); a column correlated with the
    sort key compresses dramatically better.

    Scale shape: one scan to assign files, then per-file lag windows
    (file-keyed — never a global ordering) and a per-column rollup."""
    load_table(spark, sf_dir, "orders")
    return spark.sql(_rle_sql(
        "datediff(o_orderdate, DATE '1992-01-01')",
        None,
    ))


QUERIES["rle_encodability_audit"] = rle_encodability_audit
ORACLE["rle_encodability_audit"] = _rle_sql(
    "datediff('day', DATE '1992-01-01', o_orderdate)",
    None,
)


# --- Z-order pruning trade-off ------------------------------------------------


def _zorder_prune_sql(day_expr: str) -> str:
    """The measured case FOR multi-dimensional clustering: 64 simulated
    files under three layouts — date-sorted, custkey-sorted, and Z-order
    (Morton) — scored by zone-map file skipping against three predicates
    (a one-month date slice, a 10%-of-range custkey slice, and their
    conjunction). A single-column sort serves exactly one predicate
    family and surrenders the other (every file straddles the other
    column's range); the Z-curve keeps BOTH dimensions' per-file min/max
    tight, so it skips well on either predicate — Morton 1966 +
    Moerkotte VLDB'98 zone maps, the argument lakehouse OPTIMIZE ZORDER
    implements. Predicate bounds are expressed as fractions of each
    dimension's observed range, so the simulation is scale-free."""
    return f"""
        WITH raw AS (
            SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS od,
                   CAST({day_expr} AS BIGINT) AS d
            FROM orders
        ),
        bounds AS (
            SELECT min(ck) AS cmin, max(ck) AS cmax,
                   min(d) AS dmin, max(d) AS dmax
            FROM raw
        ),
        coords AS (
            SELECT ck, od, d,
                   CAST(floor((ck - b.cmin) * 256e0 / (b.cmax - b.cmin + 1))
                        AS BIGINT) AS x,
                   CAST(floor((d - b.dmin) * 256e0 / (b.dmax - b.dmin + 1))
                        AS BIGINT) AS y
            FROM raw CROSS JOIN bounds b
        ),
        assigned AS (
            SELECT ck, od, d,
                   CAST(y >> 2 AS BIGINT) AS f_date,
                   CAST(x >> 2 AS BIGINT) AS f_cust,
                   CAST(({_zorder_expr("x", "y", bits=8)}) >> 10 AS BIGINT)
                       AS f_z
            FROM coords
        ),
        layouts AS (
            SELECT 'date_sorted' AS layout, f_date AS f, ck, d
            FROM assigned
            UNION ALL
            SELECT 'cust_sorted' AS layout, f_cust AS f, ck, d
            FROM assigned
            UNION ALL
            SELECT 'zorder' AS layout, f_z AS f, ck, d FROM assigned
        ),
        zones AS (
            SELECT layout, f,
                   min(d) AS dlo, max(d) AS dhi,
                   min(ck) AS clo, max(ck) AS chi,
                   count(*) AS n_rows
            FROM layouts GROUP BY layout, f
        ),
        preds AS (
            SELECT 'date_month' AS predicate, 1 AS use_d, 0 AS use_c
            UNION ALL
            SELECT 'cust_decile', 0, 1
            UNION ALL
            SELECT 'both', 1, 1
        ),
        lims AS (
            -- date slice: days [40%, 48.3%) of the range (~one month of a
            -- year-scale span); cust slice: [40%, 50%) of the key range
            SELECT b.dmin + CAST(floor((b.dmax - b.dmin) * 0.40e0) AS BIGINT)
                       AS plo_d,
                   b.dmin + CAST(floor((b.dmax - b.dmin) * 0.483e0) AS BIGINT)
                       AS phi_d,
                   b.cmin + CAST(floor((b.cmax - b.cmin) * 0.40e0) AS BIGINT)
                       AS plo_c,
                   b.cmin + CAST(floor((b.cmax - b.cmin) * 0.50e0) AS BIGINT)
                       AS phi_c
            FROM bounds b
        )
        SELECT z.layout, p.predicate,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(CASE WHEN (p.use_d = 0
                                   OR (z.dlo < l.phi_d AND z.dhi >= l.plo_d))
                              AND (p.use_c = 0
                                   OR (z.clo < l.phi_c AND z.chi >= l.plo_c))
                             THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
               CAST(sum(CASE WHEN (p.use_d = 0
                                   OR (z.dlo < l.phi_d AND z.dhi >= l.plo_d))
                              AND (p.use_c = 0
                                   OR (z.clo < l.phi_c AND z.chi >= l.plo_c))
                             THEN z.n_rows ELSE 0 END) AS BIGINT)
                   AS rows_scanned
        FROM zones z CROSS JOIN preds p CROSS JOIN lims l
        GROUP BY z.layout, p.predicate
        ORDER BY z.layout, p.predicate
    """


def zorder_pruning_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping of date-sorted vs custkey-sorted vs Z-order layouts
    under single-column and conjunctive predicates (see
    _zorder_prune_sql) — the measured completion of the layout family:
    layout_pruning_simulation prices clustering vs ingestion order on
    ONE axis; this prices the single-axis-sort surrender on the other
    axis and what the Morton curve buys back.

    Scale shape: one scan computes all three file assignments row-
    locally (1-row bounds broadcast); zone maps are 64x3 rows; the
    predicate/limit relations are constant broadcasts. No sort is paid —
    equi-width binning on each axis (and the z-prefix) reproduces the
    sorted layouts' zone maps exactly."""
    load_table(spark, sf_dir, "orders")
    return spark.sql(_zorder_prune_sql(
        "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"
    ))


QUERIES["zorder_pruning_tradeoff"] = zorder_pruning_tradeoff
ORACLE["zorder_pruning_tradeoff"] = _zorder_prune_sql(
    "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))"
)


# --- consistent-hash reshard audit ---------------------------------------------------
#
# Karger et al. (STOC'97): when a shard set grows 8 -> 9, modulo
# partitioning remaps ~8/9 of all keys while a consistent-hash ring with
# virtual nodes remaps only the ~1/9 that land on the new shard's arcs.
# Both policies are computed for every customer (md5 positions, 16 vnodes
# per shard) and the movement fractions + load balance are reported — the
# measured argument for ring-based placement of any keyed state
# (shuffle-files, caches, streaming state) at cluster-resize time.

CH_SHARDS_BEFORE = 8
CH_SHARDS_AFTER = 9
CH_VNODES = 16
_CH_SPACE = 65536


def _ch_assigned_sql(h_user: str, h_vnode: str, tf: str, flt: str,
                     amin: str, alist: str, idiv: str) -> str:
    """Per-key ring successors BEFORE and AFTER the reshard, SHUFFLE-FREE:
    the 144-vnode ring collapses to ONE broadcast array of PACKED ints
    (vpos*256 + shard*16 + vnode; vpos < 65536, shard < 16, vnode < 16),
    and each key's argmin is a per-row array fold —
    min over pv of ((vpos - pos) mod space)*256 + low byte — whose integer
    min is exactly the lexicographic (dist, shard, vnode) ring tie-break.
    No keys×144 product ever materializes and nothing shuffles (round-8
    rewrite of a per-key row_number window that sorted that product
    through two key-partitioned shuffles: 3.7 s → 2.0 s idle at sf0.1,
    with the assigned stage itself sub-second).
    `shard < {CH_SHARDS_BEFORE}` ⇔ low byte < {CH_SHARDS_BEFORE * CH_VNODES}
    (s-major packing), which is the before-ring filter."""
    packed = (
        f"((pv {idiv} 256) - u.pos + {_CH_SPACE}) % {_CH_SPACE} * 256"
        " + pv % 256"
    )
    return f"""
        WITH users AS (
            SELECT c_custkey, ({h_user}) % {_CH_SPACE} AS pos
            FROM customer
        ),
        vn AS (
            SELECT s.s AS shard, v.v AS vnode,
                   ({h_vnode}) % {_CH_SPACE} AS vpos
            FROM (SELECT {_seq("s", CH_SHARDS_AFTER)}) s
            CROSS JOIN (SELECT {_seq("v", CH_VNODES)}) v
        ),
        ring AS (
            SELECT {alist}(vpos * 256 + shard * 16 + vnode) AS pvs FROM vn
        )
        SELECT u.c_custkey,
               u.pos % {CH_SHARDS_BEFORE} AS n_before,
               u.pos % {CH_SHARDS_AFTER} AS n_after,
               {amin}({tf}({flt}(pvs,
                   pv -> pv % 256 < {CH_SHARDS_BEFORE * CH_VNODES}),
                   pv -> {packed})) AS mb,
               {amin}({tf}(pvs, pv -> {packed})) AS ma
        FROM users u CROSS JOIN ring
    """


_CH_SPARK_DIALECT = dict(tf="transform", flt="filter", amin="array_min",
                         alist="collect_list", idiv="DIV")
_CH_DUCK_DIALECT = dict(tf="list_transform", flt="list_filter",
                        amin="list_min", alist="list", idiv="//")


def _ch_sql(assigned_src: str, mat: str = "") -> str:
    return f"""
        WITH assigned AS {mat}(
            {assigned_src}
        ),
        mv AS (
            SELECT CAST(count(*) AS BIGINT) AS n_keys,
                   avg(CASE WHEN n_before <> n_after
                            THEN 1e0 ELSE 0e0 END) AS nm,
                   avg(CASE WHEN ((mb % 256) - (mb % 16)) <>
                                 ((ma % 256) - (ma % 16))
                            THEN 1e0 ELSE 0e0 END) AS rm
            FROM assigned
        ),
        loads AS (
            SELECT max(cnt) * 1e0 / min(cnt) AS imbalance
            FROM (SELECT (ma % 256) - (ma % 16) AS shard16,
                         count(*) AS cnt
                  FROM assigned GROUP BY 1) z
        )
        SELECT mv.n_keys AS n_keys,
               {{naive_moved}} AS naive_moved_frac,
               {{ring_moved}} AS ring_moved_frac,
               {{imb}} AS ring_load_imbalance
        FROM mv CROSS JOIN loads
    """


def _seq(alias: str, n: int) -> str:
    vals = " UNION ALL ".join(f"SELECT {i} AS {alias}" for i in range(n))
    return f"{alias} FROM ({vals}) q"


def consistent_hash_reshard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Movement fractions when resharding 8 -> 9: naive modulo (expected
    ~8/9 of keys move) vs a 16-vnode consistent-hash ring (expected ~1/9),
    plus the ring's post-reshard load imbalance (max/min shard load).

    Scale shape: the vnode table is 9 x 16 = 144 broadcast rows; each key
    resolves BOTH ring successors in one pass through a grouped
    packed-integer min over that broadcast product (partial-aggregatable
    — see _ch_assigned_sql), the per-key relation materializes once, and
    the movement/load rollups read the materialized 2-ints-per-key
    result."""
    load_tables(spark, sf_dir)
    h_user = ("CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 8),"
              " 16, 10) AS BIGINT)")
    h_vnode = ("CAST(conv(substring(md5(concat('shard', CAST(s.s AS STRING),"
               " '-v', CAST(v.v AS STRING))), 1, 8), 16, 10) AS BIGINT)")
    materialize(
        spark.sql(_ch_assigned_sql(h_user, h_vnode, **_CH_SPARK_DIALECT))
    ).createOrReplaceTempView("ch_assigned_v")
    return spark.sql(_ch_sql("SELECT * FROM ch_assigned_v").format(
        naive_moved=R("mv.nm", 4),
        ring_moved=R("mv.rm", 4),
        imb=R("loads.imbalance", 4),
    ))


QUERIES["consistent_hash_reshard_audit"] = consistent_hash_reshard_audit
ORACLE["consistent_hash_reshard_audit"] = _ch_sql(
    _ch_assigned_sql(
        "CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))"
        " AS BIGINT)",
        "CAST(concat('0x', substr(md5(concat('shard', CAST(s.s AS VARCHAR),"
        " '-v', CAST(v.v AS VARCHAR))), 1, 8)) AS BIGINT)",
        **_CH_DUCK_DIALECT,
    ),
    mat="MATERIALIZED ",
).format(
    naive_moved=R("mv.nm", 4),
    ring_moved=R("mv.rm", 4),
    imb=R("loads.imbalance", 4),
)


# --- small-file compaction planner ---------------------------------------------
# The OPTIMIZE/compaction scheduler every parquet lakehouse runs: tables
# accumulate many small files (per-trigger streaming commits, fine-grained
# partitions), and scan cost is dominated by file-open overhead once files
# fall far below the ~128 MB scan-split sweet spot. The planner reads ONLY
# file-level metadata (one grouped count over the facts stands in for the
# file listing here), then assigns contiguous same-partition files to
# target-sized output bins with a cumulative-offset rule.
COMPACT_TARGET_BYTES = 32 * 1024   # scaled-down stand-in for ~128 MB
COMPACT_ROW_BYTES = 120            # orders row-size estimate for the sim


def _compaction_sql(month_expr: str) -> str:
    """Per-status compaction plan over the simulated file inventory (one
    'file' per (o_orderstatus, order month) — the streaming-commit grain):
    files are packed in month order into bins of ~{COMPACT_TARGET_BYTES}
    bytes via bin = floor(start_offset / target) on the partition-local
    cumulative byte offset. Contiguity in month order keeps min/max
    zone-map locality intact after the rewrite (the same reason OPTIMIZE
    preserves sort order). Only same-partition files merge — compaction
    never rewrites across partition boundaries."""
    return f"""
        WITH files AS (
            SELECT o_orderstatus AS part, {month_expr} AS file_key,
                   count(*) * {COMPACT_ROW_BYTES} AS bytes
            FROM orders
            GROUP BY o_orderstatus, {month_expr}
        ),
        placed AS (
            SELECT part, file_key, bytes,
                   SUM(bytes) OVER (PARTITION BY part ORDER BY file_key
                       ROWS UNBOUNDED PRECEDING) - bytes AS start_off
            FROM files
        ),
        binned AS (
            SELECT part, file_key, bytes,
                   CAST(floor(start_off * 1e0 / {COMPACT_TARGET_BYTES})
                        AS BIGINT) AS bin_id
            FROM placed
        )
        SELECT part AS partition_key, bin_id,
               CAST(count(*) AS BIGINT) AS n_files_in,
               CAST(sum(bytes) AS BIGINT) AS bin_bytes,
               CAST(sum(CASE WHEN bytes * 2 < {COMPACT_TARGET_BYTES}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_small_in,
               min(file_key) AS first_file, max(file_key) AS last_file
        FROM binned
        GROUP BY part, bin_id
        ORDER BY partition_key, bin_id
    """


def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan (Delta OPTIMIZE / Iceberg rewrite_data_files
    shape): which files merge into which target-sized output bin, per
    partition — see _compaction_sql for the packing rule.

    Scale shape: the only corpus-grain work is ONE grouped count (the
    file-listing stand-in; a real lakehouse reads the transaction log /
    manifest instead and touches no data at all). The plan itself runs on
    the file-inventory relation — thousands of rows per million files —
    with a per-partition window cumsum, so planning cost is O(files), not
    O(bytes). That asymmetry is the point: a 100 TB table's compaction
    schedule is computed from kilobytes of metadata."""
    load_tables(spark, sf_dir)
    return spark.sql(_compaction_sql(
        "date_format(o_orderdate, 'yyyy-MM')"
    ))


QUERIES["compaction_bin_packing"] = compaction_bin_packing
ORACLE["compaction_bin_packing"] = _compaction_sql(
    "strftime(o_orderdate, '%Y-%m')"
)
