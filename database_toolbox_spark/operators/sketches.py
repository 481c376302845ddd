"""Mergeable-sketch aggregates (Apache DataSketches surface in Spark 4.x):
HLL distinct-count sketches, Theta set-algebra sketches, KLL quantile
sketches.

The wrapped warehouses all expose sketch aggregates (BigQuery HLL_COUNT.*,
Redshift/Snowflake APPROX_* — SURVEY.md §2.B approximate aggregates
[implied]); at 100 TB these are not a nicety but the only way distinct-count
/ quantile rollups stay one-pass: sketch states are MERGEABLE, so partial
sketches build per partition (map-side), merge across executors, and
re-merge across time partitions or dashboards without rescanning history —
the same partial→final contract as SUM, extended to non-distributive
statistics.

Cross-engine contract (FIXTURES.md determinism rules): sketch estimates
legitimately differ per engine, so each query emits the EXACT value (both
engines compute it identically) plus a CAST(within-tolerance AS INT) flag —
DuckDB computes its own approx twin where one exists (approx_count_distinct,
approx_quantile), else asserts the exact-side flag literally.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from database_toolbox_spark.functions import money
from database_toolbox_spark.operators._oracle import R
from database_toolbox_spark.session import load_table, load_tables, materialize


def hll_sketch_merge_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority HLL sketches of ordering customers + a merged ALL row:
    hll_union_agg over the per-group sketch states must land within 5% of
    the exact global distinct — the re-aggregatable rollup path (map-side
    partials → group merge → cross-group merge, history never rescanned)."""
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_customers"),
        F.hll_sketch_agg("o_custkey").alias("sk"),
    )
    flag = (
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_customers"))
            / F.col("exact_customers")
        )
        <= 0.05
    ).cast("int")
    per_out = per.select(
        "o_orderpriority", "exact_customers", flag.alias("hll_within_5pct")
    )
    exact_all = orders.agg(F.countDistinct("o_custkey").alias("exact_customers"))
    merged = per.agg(F.hll_union_agg("sk").alias("msk")).crossJoin(
        F.broadcast(exact_all)
    )
    all_out = merged.select(
        F.lit("ALL").alias("o_orderpriority"),
        "exact_customers",
        (
            (
                F.abs(F.hll_sketch_estimate("msk") - F.col("exact_customers"))
                / F.col("exact_customers")
            )
            <= 0.05
        )
        .cast("int")
        .alias("hll_within_5pct"),
    )
    return per_out.unionByName(all_out).orderBy("o_orderpriority")


def theta_set_ops_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches support set ALGEBRA (union/intersection/difference),
    which plain HLL cannot: distinct clickers ∪/∩/∖ purchasers, each
    estimate checked within 5% of the exact value. At scale the sketches
    are built once per source partition and combined without a re-scan."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click")
    buys = events.filter(F.col("event_type") == "purchase")
    sk = (
        clicks.agg(F.theta_sketch_agg("user_id").alias("a"))
        .crossJoin(buys.agg(F.theta_sketch_agg("user_id").alias("b")))
    )
    exact = (
        events.filter(F.col("event_type").isin("click", "purchase"))
        .agg(F.countDistinct("user_id").alias("exact_union"))
        .crossJoin(
            clicks.select("user_id")
            .intersect(buys.select("user_id"))
            .agg(F.count("*").alias("exact_intersection"))
        )
        .crossJoin(
            clicks.select("user_id")
            .subtract(buys.select("user_id"))
            .agg(F.count("*").alias("exact_difference"))
        )
    )

    def ok(est: Column, exact_col: str) -> Column:
        # absolute floor of 2 keeps the check division-free (an empty
        # intersection is a legal outcome) while staying 5% relative above it
        return (
            F.abs(est - F.col(exact_col))
            <= F.greatest(F.lit(2.0), F.col(exact_col) * 0.05)
        ).cast("int")

    return (
        sk.crossJoin(F.broadcast(exact))
        .select(
            "exact_union",
            ok(F.theta_sketch_estimate(F.theta_union("a", "b")), "exact_union")
            .alias("union_within_5pct"),
            "exact_intersection",
            ok(
                F.theta_sketch_estimate(F.theta_intersection("a", "b")),
                "exact_intersection",
            ).alias("intersection_within_5pct"),
            "exact_difference",
            ok(
                F.theta_sketch_estimate(F.theta_difference("a", "b")),
                "exact_difference",
            ).alias("difference_within_5pct"),
        )
    )


def kll_quantile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketch of order prices: p50/p90 estimates within 2% of
    the exact order statistics (deterministic rank pick, tie-broken by key).
    KLL states merge across partitions — the scalable percentile plan."""
    from database_toolbox_spark.operators.grouping import (  # noqa: PLC0415
        RANKED_ORDERS_TWO_PASS,
    )

    load_tables(spark, sf_dir)
    # exact order statistics via the two-pass rank (no corpus-wide window)
    exact = spark.sql(f"""
        WITH {RANKED_ORDERS_TWO_PASS}
        SELECT max(CASE WHEN rn = CAST(ceil(0.5e0 * n) AS BIGINT)
                        THEN o_totalprice END) AS exact_p50,
               max(CASE WHEN rn = CAST(ceil(0.9e0 * n) AS BIGINT)
                        THEN o_totalprice END) AS exact_p90
        FROM ranked
    """)
    sk = load_table(spark, sf_dir, "orders").agg(
        F.kll_sketch_agg_double("o_totalprice").alias("sk")
    )

    def ok(q: float, exact_col: str) -> Column:
        est = F.kll_sketch_get_quantile_double("sk", F.lit(q))
        return ((F.abs(est - F.col(exact_col)) / F.col(exact_col)) <= 0.02).cast(
            "int"
        )

    return sk.crossJoin(F.broadcast(exact)).select(
        money(F.col("exact_p50")).alias("exact_p50"),
        ok(0.5, "exact_p50").alias("p50_within_2pct"),
        money(F.col("exact_p90")).alias("exact_p90"),
        ok(0.9, "exact_p90").alias("p90_within_2pct"),
    )


def hll_time_rollup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-grain sketch rollup: DAILY distinct users computed by merging
    HOURLY HLL states — the dashboard pattern that makes distinct-count
    rollups one-pass at 100 TB (hour partials persist; coarser grains merge
    sketches instead of rescanning events). Flag = merged estimate within
    5% of the exact daily distinct."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("h")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    daily_merged = hourly.groupBy(
        F.to_date("h").alias("day")
    ).agg(F.hll_union_agg("sk").alias("dsk"))
    exact = events.groupBy(F.to_date("ts").alias("e_day")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        daily_merged.join(exact, daily_merged.day == exact.e_day)
        .select(
            "day",
            "exact_users",
            (
                F.abs(F.hll_sketch_estimate("dsk") - F.col("exact_users"))
                <= F.greatest(F.lit(2.0), F.col("exact_users") * 0.05)
            )
            .cast("int")
            .alias("rollup_within_5pct"),
        )
        .orderBy("day")
    )


CMS_DEPTH = 5  # independent hash rows (failure prob per probe ~ e^-depth)
CMS_WIDTH = 8192  # buckets per row (overestimate bound ~ e/width * N)


def _cms_cells(key: Column) -> Column:
    """The CMS (row, bucket) cells a key maps to: one xxhash64 per row,
    seeded by the row index as an extra hash input."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("row"),
                    F.pmod(
                        F.xxhash64(key, F.lit(d)), F.lit(CMS_WIDTH)
                    ).alias("bucket"),
                )
                for d in range(CMS_DEPTH)
            ]
        )
    )


def cms_heavy_hitters_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch built from scratch with DataFrame ops, probed at
    the exact top-10 heavy hitters of `lineitem.l_partkey`.

    The sketch is a depth×width counter matrix — here literally a
    DataFrame keyed (row, bucket): one scan explodes each key into its
    `CMS_DEPTH` cells and a single groupBy counts them (map-side partial
    agg does the heavy lifting; ≤ depth·width rows ever shuffle, whatever
    N is). Counter matrices with identical seeds MERGE by adding cell-wise
    — the same partial→final contract the HLL/Theta/KLL queries above
    exploit, which is what makes the sketch usable as a streaming /
    cross-partition heavy-hitter index at 100 TB.

    Probe contract (deterministic given xxhash64, so the flags are stable
    facts, not luck): estimate = min over rows of the probed cell; CMS
    guarantees estimate ≥ exact always, and estimate ≤ exact + ~(e/width)·N
    with high probability — asserted here with the generous bound
    floor(0.005·N) (empirically the overshoot is 0 at test scale factors).
    DuckDB has no CMS twin: the oracle computes the exact counts exactly
    and asserts the flags literally (theta_set_ops_check pattern).
    """
    li = load_table(spark, sf_dir, "lineitem")
    n_total = li.select(F.count("*").alias("n"))
    counters = (
        li.select(_cms_cells(F.col("l_partkey")).alias("rb"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count("*").alias("c"))
    )
    probes = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "l_partkey")
        .limit(10)
    )
    probe_cells = probes.select(
        "l_partkey", "exact_cnt", _cms_cells(F.col("l_partkey")).alias("rb")
    ).select("l_partkey", "exact_cnt", "rb.row", "rb.bucket")
    est = (
        F.broadcast(probe_cells)
        .join(counters, ["row", "bucket"])
        .groupBy("l_partkey", "exact_cnt")
        .agg(F.min("c").alias("est"))
    )
    return (
        est.crossJoin(F.broadcast(n_total))
        .select(
            "l_partkey",
            "exact_cnt",
            (F.col("est") >= F.col("exact_cnt")).cast("int").alias("est_ge_exact"),
            (F.col("est") <= F.col("exact_cnt") + F.floor(F.col("n") * 0.005))
            .cast("int")
            .alias("est_within_bound"),
        )
        .orderBy(F.col("exact_cnt").desc(), "l_partkey")
    )


def bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-user daily rollup from mergeable hourly partials —
    the lossless twin of `hll_time_rollup_check`. Each hour stores one
    roaring-style bitmap per 32k-id bucket (`bitmap_bucket_number` /
    `bitmap_bit_position` / `bitmap_construct_agg`); coarser grains merge
    with `bitmap_or_agg` instead of rescanning raw events, and
    `bitmap_count` sums to the exact distinct. At 100 TB this gives exact
    re-aggregatable distincts with state proportional to the id universe,
    not the event count — every step is a built-in JVM aggregate.

    Reference parity: exact/approx distinct rollups are warehouse-core SQL
    committed via passthrough (/root/reference/README.md:1715-1716)."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("h"),
        F.bitmap_bucket_number("user_id").alias("bucket"),
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
    daily = hourly.groupBy(F.to_date("h").alias("day"), "bucket").agg(
        F.bitmap_or_agg("bm").alias("bm")
    )
    return (
        daily.groupBy("day")
        .agg(
            F.sum(F.bitmap_count("bm")).alias("exact_users"),
            F.countDistinct("bucket").alias("n_buckets"),
        )
        .orderBy("day")
    )


QUERIES = {
    "bitmap_distinct_rollup": bitmap_distinct_rollup,
    "hll_sketch_merge_check": hll_sketch_merge_check,
    "cms_heavy_hitters_check": cms_heavy_hitters_check,
    "hll_time_rollup_check": hll_time_rollup_check,
    "theta_set_ops_check": theta_set_ops_check,
    "kll_quantile_check": kll_quantile_check,
}

ORACLE = {
    # Bitmaps are exact, so the oracle is a plain COUNT(DISTINCT ...);
    # bucket ids replicate Spark's bitmap_bucket_number: (x-1) floordiv 32768 + 1.
    "bitmap_distinct_rollup": """
        SELECT CAST(ts AS DATE) AS day,
               count(DISTINCT user_id) AS exact_users,
               count(DISTINCT CAST(floor((user_id - 1e0) / 32768e0) AS BIGINT) + 1)
                   AS n_buckets
        FROM events
        GROUP BY day
        ORDER BY day
    """,
    # DuckDB has no count-min twin: exact top-10 computed exactly, the two
    # CMS-bound flags asserted literally (they are deterministic on the
    # Spark side — fixed xxhash64 seeds, not sampling).
    "cms_heavy_hitters_check": """
        SELECT l_partkey,
               count(*) AS exact_cnt,
               CAST(1 AS INT) AS est_ge_exact,
               CAST(1 AS INT) AS est_within_bound
        FROM lineitem
        GROUP BY l_partkey
        ORDER BY exact_cnt DESC, l_partkey
        LIMIT 10
    """,
    # DuckDB computes its own HLL twin (approx_count_distinct) per group and
    # for the merged ALL row over the full input.
    "hll_sketch_merge_check": """
        SELECT o_orderpriority,
               count(DISTINCT o_custkey) AS exact_customers,
               CAST(abs(approx_count_distinct(o_custkey)
                        - count(DISTINCT o_custkey)) * 1e0
                    / count(DISTINCT o_custkey) <= 0.05e0 AS INT)
                   AS hll_within_5pct
        FROM orders
        GROUP BY o_orderpriority
        UNION ALL
        SELECT 'ALL' AS o_orderpriority,
               count(DISTINCT o_custkey) AS exact_customers,
               CAST(abs(approx_count_distinct(o_custkey)
                        - count(DISTINCT o_custkey)) * 1e0
                    / count(DISTINCT o_custkey) <= 0.05e0 AS INT)
                   AS hll_within_5pct
        FROM orders
        ORDER BY o_orderpriority
    """,
    # DuckDB twin: approx_count_distinct per day (its own HLL), same flag
    "hll_time_rollup_check": """
        SELECT CAST(ts AS DATE) AS day,
               count(DISTINCT user_id) AS exact_users,
               CAST(abs(approx_count_distinct(user_id)
                        - count(DISTINCT user_id)) * 1e0
                    <= greatest(2e0, count(DISTINCT user_id) * 0.05e0)
                    AS INT) AS rollup_within_5pct
        FROM events
        GROUP BY CAST(ts AS DATE)
        ORDER BY day
    """,
    # DuckDB has no theta-sketch twin: exact values computed exactly, flags
    # asserted literally (the Spark side proves its sketch landed in-bound).
    "theta_set_ops_check": """
        WITH a AS (SELECT DISTINCT user_id FROM events
                   WHERE event_type = 'click'),
             b AS (SELECT DISTINCT user_id FROM events
                   WHERE event_type = 'purchase')
        SELECT (SELECT count(DISTINCT user_id) FROM events
                WHERE event_type IN ('click', 'purchase')) AS exact_union,
               CAST(1 AS INT) AS union_within_5pct,
               (SELECT count(*) FROM (SELECT user_id FROM a
                                      INTERSECT SELECT user_id FROM b))
                   AS exact_intersection,
               CAST(1 AS INT) AS intersection_within_5pct,
               (SELECT count(*) FROM (SELECT user_id FROM a
                                      EXCEPT SELECT user_id FROM b))
                   AS exact_difference,
               CAST(1 AS INT) AS difference_within_5pct
    """,
    # DuckDB twin: approx_quantile (t-digest-ish) within the same 2%.
    "kll_quantile_check": f"""
        WITH ranked AS (
            SELECT o_totalprice,
                   row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
                   count(*) OVER () AS n
            FROM orders
        ),
        exact AS (
            SELECT max(CASE WHEN rn = CAST(ceil(0.5e0 * n) AS BIGINT)
                            THEN o_totalprice END) AS e50,
                   max(CASE WHEN rn = CAST(ceil(0.9e0 * n) AS BIGINT)
                            THEN o_totalprice END) AS e90
            FROM ranked
        ),
        approx AS (
            SELECT approx_quantile(o_totalprice, CAST(0.5 AS FLOAT)) AS a50,
                   approx_quantile(o_totalprice, CAST(0.9 AS FLOAT)) AS a90
            FROM orders
        )
        SELECT {R("e50")} AS exact_p50,
               CAST(abs(a50 - e50) / e50 <= 0.02e0 AS INT) AS p50_within_2pct,
               {R("e90")} AS exact_p90,
               CAST(abs(a90 - e90) / e90 <= 0.02e0 AS INT) AS p90_within_2pct
        FROM exact, approx
    """,
}


# --- Bloom-filter membership sketch ----------------------------------------

BLOOM_BITS = 4096  # filter width in bits
BLOOM_K = 3  # hash functions per key
BLOOM_WORD = 62  # bits packed per BIGINT word (62 dodges the sign bit)
BLOOM_BUILD_SRC = "src0"  # the source whose vocabulary builds the filter


def _bloom_sql(shift, intdiv, u32, seeds: str, pre: str = "",
               mat: str = "") -> str:
    """Build a BLOOM_BITS-bit Bloom filter over the build source's
    distinct tokens (k md5-derived positions per token, bit_or-packed into
    62-bit BIGINT words), probe every source's distinct tokens against it,
    and report maybe-present vs exactly-present per source (Bloom, CACM
    1970; the one-sided-error contract: no false negatives, measured
    false-positive rate in the report).

    Shared template; shift/intdiv are callables rendering the bit-shift
    and integer division per dialect, seeds the k-row seed relation."""
    key = "concat(tok, '#', CAST(s AS STRING))"
    pos = f"{u32(key)} % {BLOOM_BITS}"
    return f"""
        WITH {pre}toks AS {mat}(
            SELECT DISTINCT source, tok FROM unnested
        ),
        build_bits AS (
            SELECT {intdiv("p")} AS word_id,
                   bit_or({shift(f"p % {BLOOM_WORD}")}) AS bits
            FROM (
                SELECT {pos} AS p
                FROM (SELECT DISTINCT tok FROM toks
                      WHERE source = '{BLOOM_BUILD_SRC}') b
                CROSS JOIN {seeds}
            )
            GROUP BY {intdiv("p")}
        ),
        probe AS (
            SELECT t.source, t.tok, {pos} AS p
            FROM toks t CROSS JOIN {seeds}
        ),
        hits AS (
            SELECT pr.source, pr.tok,
                   CASE WHEN count(*) = {BLOOM_K}
                         AND sum(CASE WHEN b.bits IS NOT NULL
                                       AND (b.bits
                                            & {shift(f"pr.p % {BLOOM_WORD}")})
                                           != 0
                                      THEN 1 ELSE 0 END) = {BLOOM_K}
                        THEN 1 ELSE 0 END AS maybe_present
            FROM probe pr
            LEFT JOIN build_bits b
              ON b.word_id = {intdiv("pr.p")}
            GROUP BY pr.source, pr.tok
        ),
        truth AS (
            SELECT source, tok FROM toks
            WHERE tok IN (SELECT tok FROM toks
                          WHERE source = '{BLOOM_BUILD_SRC}')
        )
        SELECT h.source,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(h.maybe_present) AS BIGINT) AS n_maybe,
               CAST(sum(CASE WHEN t.tok IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_truly,
               CAST(sum(CASE WHEN h.maybe_present = 1 AND t.tok IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_false_positive,
               CAST(sum(CASE WHEN h.maybe_present = 0 AND t.tok IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_false_negative
        FROM hits h
        LEFT JOIN truth t ON t.source = h.source AND t.tok = h.tok
        GROUP BY h.source ORDER BY h.source
    """


def bloom_token_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter vocabulary membership: build over src0's distinct
    tokens, probe every source. n_false_negative must be 0 (the Bloom
    guarantee — asserted in tests); n_false_positive is the price of the
    4096-bit budget. Completes the sketch family (HLL/Theta/KLL/CMS/
    bitmap) with the membership sketch; at 100 TB the 67-word filter is a
    broadcast model, the probe a map-side lookup.

    Scale shape: build = one grouped bit_or over (distinct tokens x k);
    probe = equi-join on word_id against the 67-row filter (broadcast),
    then per-source aggregation. Exact truth via one semi-join for the
    false-positive accounting (test harness only at scale)."""
    load_tables(spark, sf_dir)
    # toks is referenced by build, probe, and truth — materialize the
    # distinct (source, token) set once instead of re-exploding the corpus
    # per reference (the multiply-referenced-CTE inlining trap)
    materialize(spark.sql(
        "SELECT DISTINCT source, explode(split(text, ' ')) AS tok"
        " FROM documents"
    )).createOrReplaceTempView("unnested")
    return spark.sql(_bloom_sql(
        lambda b: f"shiftleft(CAST(1 AS BIGINT), {b})",
        lambda x: f"({x} DIV {BLOOM_WORD})",
        lambda k: f"CAST(conv(substring(md5({k}), 1, 8), 16, 10) AS BIGINT)",
        f"(SELECT explode(sequence(0, {BLOOM_K - 1})) AS s)",
    ))


QUERIES["bloom_token_membership"] = bloom_token_membership
ORACLE["bloom_token_membership"] = _bloom_sql(
    lambda b: f"(CAST(1 AS BIGINT) << ({b}))",
    lambda x: f"({x} // {BLOOM_WORD})",
    lambda k: f"CAST(concat('0x', substr(md5({k}), 1, 8)) AS BIGINT)",
    f"(SELECT unnest(range({BLOOM_K})) AS s)",
    pre="unnested AS (SELECT source, unnest(string_split(text, ' '))"
        " AS tok FROM documents), ",
    mat="MATERIALIZED ",
)


# --- KMV (k-minimum-values) distinct estimator --------------------------------
KMV_K = 64


def _kmv_sql(u32, cast_str: str) -> str:
    """KMV / bottom-k distinct-count estimator (Bar-Yossef et al.,
    RANDOM 2002; Beyer et al., SIGMOD 2007 unbiased form): hash every key
    to a uniform in (0, 1], keep the k smallest, estimate
    D ≈ (k-1) / h_(k). Hashes are md5-derived 32-bit integers (+1 so the
    divisor can't be zero) — deterministic across engines, partitions and
    reruns, unlike engine-native approx_count_distinct. The ok flag
    applies the ~3/sqrt(k-2) relative-error bound (>99% coverage).

    A group with fewer than k distinct hashes has no k-th minimum: the
    LEFT JOIN falls back to the exact count (the sketch IS exhaustive
    there — the standard small-set exactness of bottom-k sketches)."""
    bound = f"3e0 / sqrt({KMV_K}e0 - 2e0)"
    return f"""
        WITH du AS (
            SELECT DISTINCT event_type, user_id FROM events
        ),
        h AS (
            SELECT DISTINCT event_type,
                   {u32(f"CAST(user_id AS {cast_str})")} + 1 AS u
            FROM du
        ),
        r AS (
            SELECT event_type, u,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY u) AS rn
            FROM h
        ),
        kth AS (
            SELECT event_type, u AS hk FROM r WHERE rn = {KMV_K}
        ),
        exact AS (
            SELECT event_type, count(*) AS n FROM du GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(e.n AS BIGINT) AS exact_distinct,
               {R(f"coalesce(({KMV_K} - 1) * 4294967296e0 / k.hk,"
                  " e.n * 1e0)", 2)} AS kmv_estimate,
               {R(f"abs(coalesce(({KMV_K} - 1) * 4294967296e0 / k.hk,"
                  " e.n * 1e0) - e.n) / e.n", 4)} AS rel_error,
               CASE WHEN abs(coalesce(({KMV_K} - 1) * 4294967296e0 / k.hk,
                                      e.n * 1e0) - e.n) / e.n <= {bound}
                    THEN 1 ELSE 0 END AS within_bound
        FROM exact e LEFT JOIN kth k ON k.event_type = e.event_type
        ORDER BY e.event_type
    """


def kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct users: exact vs the KMV bottom-{KMV_K}
    estimate with its theoretical error bound — the third
    distinct-counting sketch next to HLL (hll_sketch_merge_check) and
    Theta (theta_set_ops_check), and the one whose state (k hash values)
    doubles as a uniform SAMPLE of the key space.

    Scale shape: distinct-reduce first (map-combinable), then a per-group
    bottom-k rank — the window partitions by event type and at 100 TB the
    per-group top-k would ride the same TakeOrdered-per-key shape as every
    bounded rank here; the estimate itself reads ONE row per group."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_kmv_sql(
        lambda k: f"CAST(conv(substring(md5({k}), 1, 8), 16, 10) AS BIGINT)",
        "STRING",
    ))


QUERIES["kmv_distinct_estimate"] = kmv_distinct_estimate
ORACLE["kmv_distinct_estimate"] = _kmv_sql(
    lambda k: f"CAST(concat('0x', substr(md5({k}), 1, 8)) AS BIGINT)",
    "VARCHAR",
)


# --- bottom-k deterministic key sample -----------------------------------------
BOTTOMK_K = 8


def _bottomk_sql(u32, cast_str: str) -> str:
    """Bottom-{BOTTOMK_K} sample of distinct users per event type by
    md5-derived hash order — the KMV sketch's state read out AS the
    uniform key sample it is (Broder's min-wise property: every distinct
    key is equally likely to land in the bottom-k). Deterministic across
    engines, partitions, reruns and INGESTION ORDER — the distributed
    replacement for reservoir sampling (Vitter's Algorithm R needs a
    sequential stream and an RNG; bottom-k needs neither)."""
    return f"""
        WITH du AS (
            SELECT DISTINCT event_type, user_id FROM events
        ),
        h AS (
            SELECT event_type, user_id,
                   {u32(f"CAST(user_id AS {cast_str})")} + 1 AS u
            FROM du
        ),
        r AS (
            SELECT event_type, user_id, u,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY u, user_id) AS rn
            FROM h
        )
        SELECT event_type,
               CAST(rn AS BIGINT) AS rank,
               user_id,
               CAST(u AS BIGINT) AS hash_val
        FROM r WHERE rn <= {BOTTOMK_K}
        ORDER BY event_type, rn
    """


def bottomk_user_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bottom-{BOTTOMK_K} user sample per event type (see
    _bottomk_sql); the batch twin of streaming/stream_ops.py's
    stream_bottomk_sample, which maintains the same sample incrementally
    with {BOTTOMK_K} (hash, user) pairs of state per key.

    Scale shape: distinct-reduce, then a per-group bottom-k rank — the
    bounded TakeOrdered-per-key shape; no state anywhere grows with the
    corpus."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_bottomk_sql(
        lambda k: f"CAST(conv(substring(md5({k}), 1, 8), 16, 10) AS BIGINT)",
        "STRING",
    ))


QUERIES["bottomk_user_sample"] = bottomk_user_sample
ORACLE["bottomk_user_sample"] = _bottomk_sql(
    lambda k: f"CAST(concat('0x', substr(md5({k}), 1, 8)) AS BIGINT)",
    "VARCHAR",
)


# --- Bloom-filtered join reduction ------------------------------------------------
BJ_SEGMENT = "AUTOMOBILE"


def _bloom_join_sql(shift, intdiv, u32, seeds: str) -> str:
    """Runtime-filter (Bloom-filtered shuffle join) simulation: build a
    {BLOOM_BITS}-bit Bloom filter over the custkeys that survive a
    selective dimension predicate, probe the fact table BEFORE any join,
    and report how much of the shuffle the filter deletes — precisely
    what engines' runtime filters / sideways information passing do
    (Spark's own runtime row-level filtering included), with the
    one-sided-error accounting made explicit: bloom_pass >= exact, no
    false negatives, FP rows priced."""
    key = "concat(CAST(k AS STRING), '#', CAST(s AS STRING))"
    pkey = "concat(CAST(o_custkey AS STRING), '#', CAST(s AS STRING))"
    return f"""
        WITH build AS (
            SELECT c_custkey AS k FROM customer
            WHERE c_mktsegment = '{BJ_SEGMENT}'
        ),
        bits AS (
            SELECT {intdiv("p")} AS word_id,
                   bit_or({shift(f"p % {BLOOM_WORD}")}) AS bits
            FROM (
                SELECT {u32(key)} % {BLOOM_BITS} AS p
                FROM build CROSS JOIN {seeds}
            )
            GROUP BY {intdiv("p")}
        ),
        probe AS (
            SELECT o.o_orderkey, o.o_custkey,
                   {u32(pkey)} % {BLOOM_BITS} AS p
            FROM orders o CROSS JOIN {seeds}
        ),
        passed AS (
            SELECT pr.o_orderkey,
                   min(CASE WHEN b.bits IS NOT NULL
                             AND ({intdiv("pr.p")} = b.word_id)
                             AND (b.bits {'' if False else ''}
                                  & {shift(f"pr.p % {BLOOM_WORD}")}) <> 0
                        THEN 1 ELSE 0 END) AS all_bits
            FROM probe pr
            LEFT JOIN bits b ON b.word_id = {intdiv("pr.p")}
            GROUP BY pr.o_orderkey
        ),
        exact AS (
            SELECT count(*) AS n FROM orders o
            WHERE EXISTS (SELECT 1 FROM build b WHERE b.k = o.o_custkey)
        ),
        tot AS (SELECT count(*) AS n FROM orders)
        SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS probe_rows,
               (SELECT CAST(n AS BIGINT) FROM exact) AS exact_matches,
               CAST(sum(all_bits) AS BIGINT) AS bloom_pass,
               CAST(sum(all_bits) - (SELECT n FROM exact) AS BIGINT)
                   AS false_positives,
               {R("(1e0 - sum(all_bits) * 1e0 / (SELECT n FROM tot))"
                  " * 1e2", 4)} AS shuffle_reduction_pct,
               {R("(sum(all_bits) - (SELECT n FROM exact)) * 1e0"
                  " / ((SELECT n FROM tot) - (SELECT n FROM exact))", 6)}
                   AS fp_rate
        FROM passed
    """


def bloom_join_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured shuffle reduction of a Bloom runtime filter for the
    dim-filtered fact join (see _bloom_join_sql) — the sideways-
    information-passing audit next to the membership sketch
    (bloom_token_membership) and the pruning simulation
    (layout_pruning_simulation): one prices the scan, this prices the
    shuffle.

    Scale shape: the filter is {BLOOM_BITS} bits packed into ~67 BIGINT
    words (a broadcast, whatever the dim's cardinality); the probe is one
    fact scan with k md5 positions per row and a broadcast join against
    the word table — no fact-side shuffle happens to evaluate the filter,
    which is the entire point."""
    load_tables(spark, sf_dir)
    return spark.sql(_bloom_join_sql(
        lambda b: f"shiftleft(CAST(1 AS BIGINT), {b})",
        lambda x: f"({x} DIV {BLOOM_WORD})",
        lambda k: f"CAST(conv(substring(md5({k}), 1, 8), 16, 10) AS BIGINT)",
        f"(SELECT explode(sequence(0, {BLOOM_K - 1})) AS s)",
    ))


QUERIES["bloom_join_reduction"] = bloom_join_reduction
ORACLE["bloom_join_reduction"] = _bloom_join_sql(
    lambda b: f"(CAST(1 AS BIGINT) << ({b}))",
    lambda x: f"({x} // {BLOOM_WORD})",
    lambda k: f"CAST(concat('0x', substr(md5({k}), 1, 8)) AS BIGINT)",
    f"(SELECT unnest(range({BLOOM_K})) AS s)",
)


# --- HLL set-algebra: intersection via inclusion-exclusion ---------------------------
#
# HLL sketches union natively (merge) but not intersect; the standard
# workaround estimates |A inter B| = |A| + |B| - |A union B| from three
# sketches. The cross-engine contract mirrors approx_distinct_check:
# exact values ride along, the estimates are asserted as within-tolerance
# FLAGS (Spark HLL++ and DuckDB's estimator differ row-for-row), with
# inclusion-exclusion given the wider 15% band its variance compounding
# earns. One pass: per-(pair, user) membership flags, then exact and the
# three sketches from the same grouped relation.

_HLL_IX_SQL = """
    WITH pairs AS (
        SELECT 'click' AS type_a, 'view' AS type_b
        UNION ALL SELECT 'click', 'purchase'
        UNION ALL SELECT 'view', 'error'
    ),
    m AS (
        SELECT p.type_a, p.type_b, e.user_id,
               max(CASE WHEN e.event_type = p.type_a THEN 1 ELSE 0 END)
                   AS ha,
               max(CASE WHEN e.event_type = p.type_b THEN 1 ELSE 0 END)
                   AS hb
        FROM pairs p JOIN events e
          ON e.event_type IN (p.type_a, p.type_b)
        GROUP BY p.type_a, p.type_b, e.user_id
    ),
    agg AS (
        SELECT type_a, type_b,
               CAST(sum(CASE WHEN ha = 1 AND hb = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS exact_intersection,
               approx_count_distinct(CASE WHEN ha = 1 THEN user_id END)
                   AS ea,
               approx_count_distinct(CASE WHEN hb = 1 THEN user_id END)
                   AS eb,
               approx_count_distinct(user_id) AS eu
        FROM m GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, exact_intersection,
           CASE WHEN abs((ea + eb - eu) - exact_intersection)
                     <= 0.15e0 * greatest(exact_intersection, 1)
                THEN 1 ELSE 0 END AS estimate_within_15pct
    FROM agg
    ORDER BY type_a, type_b
"""


def hll_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise user-set intersections for three event-type pairs,
    each flagged if the HLL inclusion-exclusion estimate lands within 15%
    — the sketch-algebra answer to "how many users did both".

    Scale shape: the membership relation groups (pair, user) in one
    shuffle (pairs is a 3-row broadcast); exact count and all three
    sketches come from that single grouped pass — no driver loop, no
    per-sketch rescan."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_HLL_IX_SQL)


QUERIES["hll_intersection_estimate"] = hll_intersection_estimate
ORACLE["hll_intersection_estimate"] = _HLL_IX_SQL


# --- Bloom filter sizing planner -------------------------------------------------
# The capacity-planning companion to the MEASURED bloom_join_reduction:
# for the same build side, walk the bits-per-key frontier and price each
# point with the standard false-positive model fpr = (1 - e^(-k/c))^k at
# the optimal hash count k = round(c * ln 2) (Bloom, CACM 1970; Broder &
# Mitzenmacher, Internet Math. 2004 survey). Run it BEFORE sizing a
# runtime filter: the recommended row is the cheapest config meeting the
# FPR target.
BLOOM_PLAN_BPK = (4, 6, 8, 10, 12, 16)
BLOOM_PLAN_TARGET_FPR = 0.01


def _bloom_plan_sql(grid_rel: str) -> str:
    return f"""
        WITH build AS (
            SELECT count(DISTINCT c_custkey) AS n FROM customer
            WHERE c_mktsegment = '{BJ_SEGMENT}'
        ),
        grid AS ({grid_rel}),
        pts AS (
            SELECT g.bpk, b.n,
                   CAST(floor(g.bpk * ln(2) + 0.5e0) AS BIGINT) AS k
            FROM grid g CROSS JOIN build b
        ),
        priced AS (
            SELECT bpk, n, k,
                   CAST(n * bpk AS BIGINT) AS total_bits,
                   {R("pow(1e0 - exp(-(k * 1e0) / bpk), k)", 6)} AS fpr
            FROM pts
        )
        SELECT CAST(bpk AS BIGINT) AS bits_per_key,
               CAST(n AS BIGINT) AS n_keys,
               k AS k_hashes,
               total_bits,
               {R("total_bits / 8192e0", 4)} AS filter_kib,
               fpr AS predicted_fpr,
               -- bounded window: one row per bits-per-key grid point
               CAST(fpr <= {BLOOM_PLAN_TARGET_FPR}
                    AND bpk = min(CASE WHEN fpr <= {BLOOM_PLAN_TARGET_FPR}
                                       THEN bpk END)
                              OVER (PARTITION BY (hash(bpk) % 1))
                    AS INT) AS recommended
        FROM priced
        ORDER BY bits_per_key
    """


def bloom_sizing_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bits-per-key / hash-count / FPR frontier for a Bloom runtime filter
    over the measured build side (see _bloom_plan_sql): the sizing table
    that turns "add a bloom filter" into a priced config choice, with the
    cheapest point meeting the {BLOOM_PLAN_TARGET_FPR} target flagged.

    Scale shape: ONE distinct-count over the build side (the only
    corpus-grain work — and a real planner would take it from column
    stats); the frontier itself is a {len(BLOOM_PLAN_BPK)}-row
    closed-form projection. Planning cost is independent of fact-table
    size, which is the entire point of sizing the filter before building
    it."""
    load_tables(spark, sf_dir)
    return spark.sql(_bloom_plan_sql(
        "SELECT explode(array" + str(BLOOM_PLAN_BPK) + ") AS bpk"
    ))


QUERIES["bloom_sizing_planner"] = bloom_sizing_planner
ORACLE["bloom_sizing_planner"] = _bloom_plan_sql(
    "SELECT unnest([" + ", ".join(str(b) for b in BLOOM_PLAN_BPK) + "]) AS bpk"
)


# --- Count-Min sketch accuracy ------------------------------------------------------
# The streaming frequency sketch (Cormode & Muthukrishnan, J. Algorithms
# 2005): d hash rows x w counters; an item's estimate is the MIN of its d
# bucket totals — always >= the true count, over by at most eps*N
# (eps = e/w) with probability 1 - (1/2)^d... measured here, not assumed:
# build the sketch over the token stream, then read back the top terms
# and report estimate vs truth. The mergeable-counter companion to the
# Misra-Gries heavy-hitter op (streaming/): CMS cells are plain sums, so
# executor-local sketches combine by addition — the property that makes
# it the standard distributed frequency sketch.
CMS_D = 4     # hash rows
CMS_W = 256   # counters per row
CMS_TOP = 20  # terms read back


def _cms_sql(tok_rel: str, rows_rel: str, h) -> str:
    bucket = h(f"concat(t.term, '#', CAST(r.r AS {{STR}}))")
    return f"""
        WITH tf AS (
            SELECT term, count(*) AS c FROM ({tok_rel}) tk GROUP BY term
        ),
        rows_ AS ({rows_rel}),
        placed AS (
            SELECT t.term, t.c, r.r,
                   abs({bucket}) % {CMS_W} AS bucket
            FROM tf t CROSS JOIN rows_ r
        ),
        cms AS (
            SELECT r, bucket, sum(c) AS cell
            FROM placed GROUP BY r, bucket
        ),
        topt AS (
            SELECT term, c FROM tf
            ORDER BY c DESC, term LIMIT {CMS_TOP}
        ),
        est AS (
            SELECT tt.term, tt.c,
                   min(m.cell) AS est
            FROM topt tt
            JOIN placed p ON p.term = tt.term
            JOIN cms m ON m.r = p.r AND m.bucket = p.bucket
            GROUP BY tt.term, tt.c
        ),
        n AS (SELECT sum(c) AS total FROM tf)
        SELECT e.term, CAST(e.c AS BIGINT) AS true_count,
               CAST(e.est AS BIGINT) AS cms_estimate,
               CAST(e.est - e.c AS BIGINT) AS overestimate,
               {R("(e.est - e.c) * 1e0 / n.total", 6)} AS over_frac_of_n
        FROM est e CROSS JOIN n
        ORDER BY true_count DESC, term
    """


def count_min_sketch_accuracy(spark, sf_dir: str):
    """CMS frequency estimates vs exact counts for the {CMS_TOP} most
    frequent tokens (see _cms_sql): the d={CMS_D} x w={CMS_W} sketch is
    built from the SAME md5-derived buckets in both engines, so the
    estimates — and therefore the measured overestimates — are
    bit-identical. `over_frac_of_n` is the observed eps; the theoretical
    bound is e/w = {round(2.718281828 / CMS_W, 4)} per row.

    Scale shape: token counting is ONE combiner-friendly grouped agg
    (the term relation is vocab-bounded by Heaps' law); the sketch is a
    {CMS_D}x{CMS_W}-cell grouped sum over that term relation; readback
    joins the TakeOrdered top-{CMS_TOP} against {CMS_D} cells each. At
    100 TB the sketch build is the only corpus-grain pass and its output
    is a KB-scale table — the point of sketching."""
    load_table(spark, sf_dir, "documents")
    return spark.sql(_cms_sql(
        "SELECT explode(split(text, ' ')) AS term FROM documents",
        f"SELECT explode(sequence(0, {CMS_D - 1})) AS r",
        lambda k: f"CAST(conv(substring(md5({k}), 1, 8), 16, 10) AS BIGINT)",
    ).replace("{STR}", "STRING"))


QUERIES["count_min_sketch_accuracy"] = count_min_sketch_accuracy
ORACLE["count_min_sketch_accuracy"] = _cms_sql(
    "SELECT unnest(string_split(text, ' ')) AS term FROM documents",
    f"SELECT unnest(range({CMS_D})) AS r",
    lambda k: f"CAST(concat('0x', substr(md5({k}), 1, 8)) AS BIGINT)",
).replace("{STR}", "VARCHAR")
