"""Window-function battery (SURVEY.md §2.B Window functions — [implied]
passthrough capability of every warehouse the reference wraps: ranking,
analytic lag/lead, running aggregates, ROWS/RANGE frames).

Scale notes:
- Every window here is partitioned (by supplier, customer, nation) or runs
  over an already-aggregated small input (daily totals) — no unpartitioned
  window over raw fact rows, which would serialize onto one task at 100 TB.
- Sort keys are rounded values + a unique key, so ordering (and therefore
  rank output) is deterministic across engines despite DOUBLE noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from database_toolbox_spark.functions import (
    bounded_rank_window,
    canon_round,
    disc_price,
    money,
)
from database_toolbox_spark.operators._oracle import R
from database_toolbox_spark.session import load_table, load_tables, materialize


def supplier_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking trio (row_number/rank/dense_rank) per supplier over part
    revenue; keep top 3 per supplier."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey", "l_partkey").agg(
        money(F.sum(disc_price())).alias("revenue")
    )
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("revenue").desc(), F.col("l_partkey")
    )
    return (
        rev.withColumn("rn", F.row_number().over(w))
        .withColumn("rnk", F.rank().over(w))
        .withColumn("drnk", F.dense_rank().over(w))
        .filter(F.col("rn") <= 3)
        .orderBy("l_suppkey", "rn")
    )


def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead per customer order history + day gap since previous order."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            money(F.lag("o_totalprice").over(w)).alias("prev_price"),
            money(F.lead("o_totalprice").over(w)).alias("next_price"),
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).alias("days_since_prev"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


def daily_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + 7-day moving average over daily revenue (ROWS frame).

    The window runs over the *aggregated* daily series (one row per DAY —
    a few thousand rows at any data size), not raw lineitems — aggregate
    first, window second; bounded_rank_window marks the single partition
    as intentional.
    """
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.groupBy(F.to_date("l_shipdate").alias("day"))
        .agg(money(F.sum(disc_price())).alias("day_revenue"))
    )
    w = bounded_rank_window(F.col("day"), "day")
    return (
        daily.select(
            "day",
            "day_revenue",
            money(
                F.sum("day_revenue").over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                )
            ).alias("running_revenue"),
            canon_round(
                F.avg("day_revenue").over(w.rowsBetween(-6, 0)), 4
            ).alias("ma7_revenue"),
        )
        .orderBy("day")
    )


def _ntile_from_rn(rn: str, n: str, k: int) -> str:
    """Exact SQL ntile(k) from a 1-based global row number `rn` and total
    count `n` — the first n%k tiles get n//k+1 rows, the rest n//k — so a
    distributed two-pass row number reproduces the window function
    bit-for-bit (identical in Spark and DuckDB integer semantics)."""
    q = f"({n} div {k})"
    rem = f"({n} % {k})"
    return (
        f"CAST(CASE WHEN {rn} <= {rem} * ({q} + 1) "
        f"THEN ({rn} - 1) div ({q} + 1) + 1 "
        f"ELSE {rem} + ({rn} - {rem} * ({q} + 1) - 1) div {q} + 1 "
        f"END AS INT)"
    )


def customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) by account balance with deterministic ordering — computed
    WITHOUT a global window (the oracle's `ntile(4) OVER (ORDER BY ...)`
    funnels the whole table through one task; this is the 100 TB-safe
    two-pass equivalent, exact to the bit):

    1. shard rows by a monotone value bin of the leading sort key (equal
       keys always share a bin, so tie-breaks stay within one partition),
    2. per-bin counts → broadcast prefix offsets (triangular join over the
       ~50 bins),
    3. per-bin PARTITIONed row_number + offset = exact global row number,
    4. closed-form ntile (see _ntile_from_rn).
    """
    load_table(spark, sf_dir, "customer")
    return spark.sql(f"""
        WITH m AS (SELECT count(*) AS n FROM customer),
        b AS (
            SELECT c_custkey, c_acctbal,
                   CAST(-floor(c_acctbal / 250e0) AS BIGINT) AS bin
            FROM customer
        ),
        t AS (SELECT bin, count(*) AS c FROM b GROUP BY bin),
        o AS (
            SELECT a.bin, CAST(coalesce(sum(x.c), 0) AS BIGINT) AS off
            FROM t a LEFT JOIN t x ON x.bin < a.bin
            GROUP BY a.bin
        ),
        r AS (
            SELECT b.c_custkey, b.c_acctbal,
                   o.off + row_number() OVER (PARTITION BY b.bin
                       ORDER BY b.c_acctbal DESC, b.c_custkey) AS rn
            FROM b JOIN o ON b.bin = o.bin
        )
        SELECT c_custkey,
               floor(c_acctbal * 100 + 0.501e0) / 100e0 AS acctbal,
               {_ntile_from_rn("rn", "n", 4)} AS quartile
        FROM r, m
        ORDER BY c_custkey
    """)


def nation_balance_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: per nation, for each customer the count and sum of peers
    within ±500.0 of their balance (RANGE BETWEEN 500 PRECEDING AND 500
    FOLLOWING over a numeric ORDER BY — peers included symmetrically, so
    output is deterministic even with ties)."""
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "bal", money(F.col("c_acctbal"))
    )
    w = Window.partitionBy("c_nationkey").orderBy("bal").rangeBetween(-500, 500)
    return (
        cust.select(
            "c_nationkey",
            "c_custkey",
            "bal",
            F.count("*").over(w).alias("n_near"),
            money(F.sum("bal").over(w)).alias("sum_near"),
        )
        .orderBy("c_custkey")
    )


def first_last_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value over full-partition frames per customer."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            money(F.first("o_totalprice").over(w)).alias("first_price"),
            money(F.last("o_totalprice").over(w)).alias("last_price"),
            F.count("*").over(w).alias("n_orders"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


def order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / nth_value per customer order history."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "price", money(F.col("o_totalprice"))
    )
    w = Window.partitionBy("o_custkey").orderBy("price", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "price",
            canon_round(F.percent_rank().over(w), 6).alias("pct_rank"),
            canon_round(F.cume_dist().over(w), 6).alias("cume"),
            F.nth_value("price", 2).over(wf).alias("second_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


_ISLANDS_SQL = """
        WITH seq AS (
            SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
                   row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS rn_all,
                   row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                       ORDER BY o_orderdate, o_orderkey) AS rn_status
            FROM orders
        ),
        islands AS (
            SELECT o_custkey, o_orderstatus,
                   min(o_orderdate) AS valid_from,
                   max(o_orderdate) AS valid_to,
                   count(*) AS run_len
            FROM seq
            GROUP BY o_custkey, o_orderstatus, rn_all - rn_status
        )
        SELECT o_custkey, count(*) AS n_runs, max(run_len) AS longest_run
        FROM islands
        GROUP BY o_custkey
        HAVING max(run_len) >= 4
        ORDER BY o_custkey
"""


def status_run_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (the SCD2 run-collapsing shape): consecutive
    same-status order runs per customer via the row_number-difference trick
    — two partitioned windows, one grouped collapse, no self-join. Customers
    with a ≥4-order single-status streak. Identical SQL on both engines."""
    load_tables(spark, sf_dir)
    return spark.sql(_ISLANDS_SQL)


def revenue_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's total customer
    balance — aggregate once, then a partition-total window over the tiny
    aggregated frame (never over raw rows)."""
    load_tables(spark, sf_dir)
    return spark.sql("""
        WITH per_nation AS (
            SELECT r.r_name, n.n_name,
                   floor(sum(c.c_acctbal) * 100 + 0.501e0) / 100e0 AS bal
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name, n.n_name
        )
        SELECT r_name, n_name, bal,
               floor(bal * 1e4 / sum(bal) OVER (PARTITION BY r_name)
                     + 0.501e0) / 1e4 AS share_of_region
        FROM per_nation
        ORDER BY r_name, n_name
    """)


def _argmax_sql(amax: str, amin: str) -> str:
    """max_by/min_by (Spark) vs arg_max/arg_min (DuckDB) — same semantics,
    different names. The ordering key is (cent-grid price, orderkey) encoded
    as one fixed-width string so ties on price break deterministically and
    identically in both engines (neither accepts a struct ordering key)."""
    return f"""
        WITH keyed AS (
            SELECT o_orderstatus, o_orderkey, o_totalprice,
                   lpad(CAST(CAST(floor(o_totalprice * 100 + 0.501e0)
                                  AS BIGINT) AS STRING), 14, '0')
                   || '#' || lpad(CAST(o_orderkey AS STRING), 14, '0')
                       AS ord_key
            FROM orders
        )
        SELECT o_orderstatus,
               {amax}(o_orderkey, ord_key) AS biggest_order,
               {amin}(o_orderkey, ord_key) AS smallest_order,
               floor(max(o_totalprice) * 100 + 0.501e0) / 100e0 AS max_price
        FROM keyed
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """


def argmax_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by aggregates: the key of the extreme row without a
    self-join or window — one pass, partials merge like min/max."""
    load_tables(spark, sf_dir)
    return spark.sql(_argmax_sql("max_by", "min_by"))


_RFM_SQL = f"""
    WITH per_cust AS (
        SELECT o_custkey AS custkey,
               max(o_orderdate) AS last_order,
               count(*) AS frequency,
               {R("sum(o_totalprice)")} AS monetary
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT custkey,
               ntile(4) OVER (ORDER BY last_order DESC, custkey) AS r,
               ntile(4) OVER (ORDER BY frequency DESC, custkey)  AS f,
               ntile(4) OVER (ORDER BY monetary DESC, custkey)   AS m
        FROM per_cust
    )
    SELECT r, f, m, count(*) AS n_customers,
           min(custkey) AS example_custkey
    FROM scored
    GROUP BY r, f, m
    ORDER BY r, f, m
"""


def _two_pass_rank_ctes(tag: str, metric: str, bin_expr: str) -> str:
    """CTE chain computing the exact global DESC row number of `metric`
    (ties by custkey) without a global window: monotone value bins →
    per-bin counts → broadcast triangular prefix offsets → PARTITIONed
    per-bin row_number + offset. Equal metric values always share a bin,
    so custkey tie-breaking stays partition-local and the result matches
    `row_number() OVER (ORDER BY metric DESC, custkey)` exactly."""
    return f"""
        b_{tag} AS (SELECT custkey, {metric} AS v, {bin_expr} AS bin
                    FROM per_cust),
        t_{tag} AS (SELECT bin, count(*) AS c FROM b_{tag} GROUP BY bin),
        o_{tag} AS (SELECT a.bin, CAST(coalesce(sum(x.c), 0) AS BIGINT) AS off
                    FROM t_{tag} a LEFT JOIN t_{tag} x ON x.bin < a.bin
                    GROUP BY a.bin),
        r_{tag} AS (SELECT b.custkey,
                           o.off + row_number() OVER (PARTITION BY b.bin
                               ORDER BY b.v DESC, b.custkey) AS rn
                    FROM b_{tag} b JOIN o_{tag} o ON b.bin = o.bin)"""


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency/frequency/monetary quartile scores) — the
    canonical warehouse customer-analytics query. The oracle keeps the
    three global-ntile spelling (_RFM_SQL); the Spark plan computes each
    quartile score with the two-pass exact rank (no unpartitioned window —
    see _two_pass_rank_ctes / _ntile_from_rn), the shape that survives
    hundreds of millions of customers.

    The per-customer profile is MATERIALIZED once: CTE inlining otherwise
    replays the orders scan + aggregation for each of the ten per_cust
    references across the three rank chains (10 orders scans in the
    physical plan — wrong at 100 TB); the checkpointed profile is one row
    per customer and every chain reads it for free."""
    load_tables(spark, sf_dir)
    per_cust_df = materialize(
        spark.sql(f"""
            SELECT o_custkey AS custkey,
                   max(o_orderdate) AS last_order,
                   count(*) AS frequency,
                   {R("sum(o_totalprice)")} AS monetary
            FROM orders GROUP BY o_custkey
        """)
    )
    per_cust_df.createOrReplaceTempView("rfm_per_cust_v")
    return spark.sql(f"""
        WITH per_cust AS (SELECT * FROM rfm_per_cust_v),
        cnt AS (SELECT count(*) AS n FROM per_cust),
        {_two_pass_rank_ctes(
            "r", "last_order",
            "CAST(-(datediff(last_order, DATE '1992-01-01') div 30)"
            " AS BIGINT)",
        )},
        {_two_pass_rank_ctes("f", "frequency", "-frequency")},
        {_two_pass_rank_ctes(
            "m", "monetary", "CAST(-floor(monetary / 25000e0) AS BIGINT)"
        )},
        scored AS (
            SELECT r_r.custkey,
                   {_ntile_from_rn("r_r.rn", "n", 4)} AS r,
                   {_ntile_from_rn("r_f.rn", "n", 4)} AS f,
                   {_ntile_from_rn("r_m.rn", "n", 4)} AS m
            FROM r_r
            JOIN r_f ON r_f.custkey = r_r.custkey
            JOIN r_m ON r_m.custkey = r_r.custkey
            CROSS JOIN cnt
        )
        SELECT r, f, m, count(*) AS n_customers,
               min(custkey) AS example_custkey
        FROM scored
        GROUP BY r, f, m
        ORDER BY r, f, m
    """)


QUERIES = {
    "customer_rfm_segments": customer_rfm_segments,
    "status_run_islands": status_run_islands,
    "revenue_share_of_region": revenue_share_of_region,
    "argmax_battery": argmax_battery,
    "supplier_top_parts": supplier_top_parts,
    "order_price_percentiles": order_price_percentiles,
    "customer_order_gaps": customer_order_gaps,
    "daily_running_revenue": daily_running_revenue,
    "customer_balance_quartiles": customer_balance_quartiles,
    "nation_balance_range_frame": nation_balance_range_frame,
    "first_last_order_values": first_last_order_values,
}

ORACLE = {
    "customer_rfm_segments": _RFM_SQL,
    "status_run_islands": _ISLANDS_SQL,
    "revenue_share_of_region": """
        WITH per_nation AS (
            SELECT r.r_name, n.n_name,
                   floor(sum(c.c_acctbal) * 100 + 0.501e0) / 100e0 AS bal
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name, n.n_name
        )
        SELECT r_name, n_name, bal,
               floor(bal * 1e4 / sum(bal) OVER (PARTITION BY r_name)
                     + 0.501e0) / 1e4 AS share_of_region
        FROM per_nation
        ORDER BY r_name, n_name
    """,
    "argmax_battery": _argmax_sql("arg_max", "arg_min"),
    "order_price_percentiles": f"""
        WITH o AS (SELECT o_custkey, o_orderkey, {R("o_totalprice")} AS price
                   FROM orders)
        SELECT o_custkey, o_orderkey, price,
               {R("percent_rank() OVER w", 6)} AS pct_rank,
               {R("cume_dist() OVER w", 6)}    AS cume,
               nth_value(price, 2) OVER (PARTITION BY o_custkey
                   ORDER BY price, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                   AS second_price
        FROM o
        WINDOW w AS (PARTITION BY o_custkey ORDER BY price, o_orderkey)
        ORDER BY o_custkey, o_orderkey
    """,
    "supplier_top_parts": f"""
        WITH rev AS (
            SELECT l_suppkey, l_partkey,
                   {R("sum(l_extendedprice * (1 - l_discount))")} AS revenue
            FROM lineitem GROUP BY l_suppkey, l_partkey
        ), ranked AS (
            SELECT *,
                   CAST(row_number() OVER w AS INT) AS rn,
                   CAST(rank()       OVER w AS INT) AS rnk,
                   CAST(dense_rank() OVER w AS INT) AS drnk
            FROM rev
            WINDOW w AS (PARTITION BY l_suppkey ORDER BY revenue DESC, l_partkey)
        )
        SELECT * FROM ranked WHERE rn <= 3 ORDER BY l_suppkey, rn
    """,
    "customer_order_gaps": f"""
        SELECT o_custkey, o_orderkey, o_orderdate,
               {R("lag(o_totalprice)  OVER w")} AS prev_price,
               {R("lead(o_totalprice) OVER w")} AS next_price,
               CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS INT)
                   AS days_since_prev
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, o_orderkey
    """,
    "daily_running_revenue": f"""
        WITH daily AS (
            SELECT CAST(l_shipdate AS DATE) AS day,
                   {R("sum(l_extendedprice * (1 - l_discount))")} AS day_revenue
            FROM lineitem GROUP BY 1
        )
        SELECT day, day_revenue,
               {R("sum(day_revenue) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")}
                   AS running_revenue,
               {R("avg(day_revenue) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)", 4)}
                   AS ma7_revenue
        FROM daily ORDER BY day
    """,
    "customer_balance_quartiles": f"""
        SELECT c_custkey, {R("c_acctbal")} AS acctbal,
               CAST(ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS INT)
                   AS quartile
        FROM customer ORDER BY c_custkey
    """,
    "nation_balance_range_frame": f"""
        WITH c AS (SELECT c_nationkey, c_custkey, {R("c_acctbal")} AS bal
                   FROM customer)
        SELECT c_nationkey, c_custkey, bal,
               count(*) OVER w AS n_near,
               {R("sum(bal) OVER w")} AS sum_near
        FROM c
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY bal
                     RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING)
        ORDER BY c_custkey
    """,
    "first_last_order_values": f"""
        SELECT o_custkey, o_orderkey,
               {R("first_value(o_totalprice) OVER w")} AS first_price,
               {R("last_value(o_totalprice)  OVER w")} AS last_price,
               count(*) OVER w AS n_orders
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY o_custkey, o_orderkey
    """,
}


def gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    inequality statistic of the "whales vs long tail" question, from
    the rank-weighted formula G = 2·Σ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n.

    The ascending rank i comes from the repo's two-pass exact rank
    (monotone bins → broadcast offsets → partition-local row_number —
    never a global window) as i = n+1−rank_desc; the oracle keeps the
    global-window spelling. Ties in x cannot move the statistic
    (swapping equal x's leaves Σ i·x unchanged), so bin-local
    tie-breaking is safe. Per-customer revenue is canon-rounded first
    so both engines rank identical doubles."""
    load_tables(spark, sf_dir)
    per_cust = materialize(spark.sql(f"""
        SELECT o_custkey AS custkey, {R("sum(o_totalprice)")} AS revenue
        FROM orders GROUP BY o_custkey
    """))
    per_cust.createOrReplaceTempView("gini_per_cust_v")
    return spark.sql(f"""
        WITH per_cust AS (SELECT * FROM gini_per_cust_v),
        cnt AS (SELECT count(*) AS n, sum(revenue) AS tot FROM per_cust),
        {_two_pass_rank_ctes(
            "g", "revenue", "CAST(-floor(revenue / 10000e0) AS BIGINT)"
        )}
        SELECT c.n AS n_customers,
               {R("2e0 * sum((c.n + 1 - r.rn) * b.v) / (c.n * c.tot)"
                  " - (c.n + 1e0) / c.n", 6)} AS gini
        FROM r_g r
        JOIN b_g b ON b.custkey = r.custkey
        CROSS JOIN cnt c
        GROUP BY c.n, c.tot
    """)


QUERIES["gini_customer_revenue"] = gini_customer_revenue
ORACLE["gini_customer_revenue"] = f"""
    WITH per_cust AS (
        SELECT o_custkey AS custkey, {R("sum(o_totalprice)")} AS revenue
        FROM orders GROUP BY o_custkey
    ),
    cnt AS (SELECT count(*) AS n, sum(revenue) AS tot FROM per_cust),
    r AS (
        SELECT revenue AS v,
               row_number() OVER (ORDER BY revenue ASC, custkey DESC) AS i
        FROM per_cust
    )
    SELECT c.n AS n_customers,
           {R("2e0 * sum(r.i * r.v) / (c.n * c.tot)"
              " - (c.n + 1e0) / c.n", 6)} AS gini
    FROM r CROSS JOIN cnt c
    GROUP BY c.n, c.tot
"""


def lorenz_decile_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at decile grain: revenue share and cumulative share
    of each customer-revenue decile (decile 10 = whales) — the
    plottable curve behind gini_customer_revenue's scalar.

    Deciles come from the same two-pass exact rank with the
    closed-form definition decile = ceil(10·rank/n) — no global ntile
    window, and the ORACLE uses the same closed form (ntile(10) places
    its n%10 remainder rows differently, so the two definitions agree
    only when 10 divides n). The cumulative share is a window over the
    10-row decile table (hash%1 declares the bounded single
    partition)."""
    load_tables(spark, sf_dir)
    per_cust = materialize(spark.sql(f"""
        SELECT o_custkey AS custkey, {R("sum(o_totalprice)")} AS revenue
        FROM orders GROUP BY o_custkey
    """))
    per_cust.createOrReplaceTempView("lorenz_per_cust_v")
    return spark.sql(f"""
        WITH per_cust AS (SELECT * FROM lorenz_per_cust_v),
        cnt AS (SELECT count(*) AS n, sum(revenue) AS tot FROM per_cust),
        {_two_pass_rank_ctes(
            "l", "revenue", "CAST(-floor(revenue / 10000e0) AS BIGINT)"
        )},
        dec AS (
            SELECT CAST(ceil((c.n + 1 - r.rn) * 10e0 / c.n) AS INT)
                       AS decile,
                   b.v AS revenue
            FROM r_l r JOIN b_l b ON b.custkey = r.custkey
            CROSS JOIN cnt c
        ),
        per_dec AS (
            SELECT d.decile, count(*) AS n_customers,
                   sum(d.revenue) / c.tot AS share
            FROM dec d CROSS JOIN cnt c
            GROUP BY d.decile, c.tot
        )
        -- bounded window: per_dec has one row per decile (10 rows)
        SELECT decile, n_customers,
               {R("share", 6)} AS revenue_share,
               {R("sum(share) OVER (PARTITION BY (hash(decile) % 1)"
                  " ORDER BY decile"
                  " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
                  6)} AS cum_share
        FROM per_dec
        ORDER BY decile
    """)


QUERIES["lorenz_decile_shares"] = lorenz_decile_shares
ORACLE["lorenz_decile_shares"] = f"""
    WITH per_cust AS (
        SELECT o_custkey AS custkey, {R("sum(o_totalprice)")} AS revenue
        FROM orders GROUP BY o_custkey
    ),
    cnt AS (SELECT count(*) AS n, sum(revenue) AS tot FROM per_cust),
    dec AS (
        -- same closed-form decile as the Spark side: ntile(10) places
        -- its n%10 remainder rows in the FIRST groups, the ceil form
        -- spreads them across boundary groups — identical only when
        -- 10 | n (true for every fixture, not in general)
        SELECT CAST(ceil(r.i * 10e0 / c.n) AS INT) AS decile, r.revenue
        FROM (SELECT revenue, custkey,
                     row_number() OVER (ORDER BY revenue ASC,
                                        custkey DESC) AS i
              FROM per_cust) r
        CROSS JOIN cnt c
    ),
    per_dec AS (
        SELECT d.decile, count(*) AS n_customers,
               sum(d.revenue) / c.tot AS share
        FROM dec d CROSS JOIN cnt c
        GROUP BY d.decile, c.tot
    )
    -- bounded window: per_dec has one row per decile (10 rows)
    SELECT decile, n_customers,
           {R("share", 6)} AS revenue_share,
           {R("sum(share) OVER (PARTITION BY (hash(decile) % 1)"
              " ORDER BY decile"
              " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
              6)} AS cum_share
    FROM per_dec
    ORDER BY decile
"""


# --- year-over-year RFM class migration ------------------------------------------
#
# The dynamic companion to customer_rfm_segments: re-score every customer's
# R/F/M terciles WITHIN each activity year (exact row_number terciles —
# rank arithmetic, no float knife edges), then count class-to-class
# transitions between consecutive years. The classic customer-lifecycle
# migration matrix ("which segments feed churn / growth").

_RFM_MIG_SQL = """
    WITH per_cy AS (
        SELECT o_custkey AS c, year(o_orderdate) AS yr,
               count(*) AS f,
               sum(o_totalprice) AS m,
               max(CAST(o_orderdate AS DATE)) AS last_d
        FROM orders GROUP BY o_custkey, year(o_orderdate)
    ),
    scored AS (
        SELECT c, yr,
               CAST(floor((CAST(row_number() OVER (PARTITION BY yr
                         ORDER BY last_d, c) AS BIGINT) - 1) * 3e0
                    / count(*) OVER (PARTITION BY yr)) AS BIGINT) AS rb,
               CAST(floor((CAST(row_number() OVER (PARTITION BY yr
                         ORDER BY f, c) AS BIGINT) - 1) * 3e0
                    / count(*) OVER (PARTITION BY yr)) AS BIGINT) AS fb,
               CAST(floor((CAST(row_number() OVER (PARTITION BY yr
                         ORDER BY m, c) AS BIGINT) - 1) * 3e0
                    / count(*) OVER (PARTITION BY yr)) AS BIGINT) AS mb
        FROM per_cy
    ),
    classed AS (
        SELECT c, yr,
               concat(CAST(rb AS STRING), CAST(fb AS STRING),
                      CAST(mb AS STRING)) AS cls,
               lag(yr) OVER (PARTITION BY c ORDER BY yr) AS prev_yr,
               lag(concat(CAST(rb AS STRING), CAST(fb AS STRING),
                          CAST(mb AS STRING)))
                   OVER (PARTITION BY c ORDER BY yr) AS prev_cls
        FROM scored
    ),
    trans AS (
        SELECT prev_cls AS from_class, cls AS to_class, count(*) AS n
        FROM classed
        WHERE prev_yr = yr - 1
        GROUP BY prev_cls, cls
    ),
    {tail}
"""

# oracle tail: the original self-contained join spelling (trans is
# referenced twice; DuckDB materializes it itself)
_RFM_MIG_JOIN_TAIL = """fromtot AS (
        SELECT from_class, sum(n) AS tot FROM trans GROUP BY from_class
    )
    SELECT t.from_class, t.to_class,
           CAST(t.n AS BIGINT) AS n_customers,
           {share} AS share_of_from
    FROM trans t JOIN fromtot ft ON ft.from_class = t.from_class
    ORDER BY n_customers DESC, t.from_class, t.to_class
    LIMIT 20"""

# Spark tail: origin-class total as a window sum over the GROUPED (and
# class-bounded, <= 27x27 rows) trans relation — the fromtot join spelling
# referenced trans twice, and Catalyst's CTE inlining replayed the whole
# per_cy + 5-window chain per reference (guide §2.4). Integer counts, so
# the shares are bit-identical to the join spelling.
_RFM_MIG_WINDOW_TAIL = """tot AS (
        SELECT from_class, to_class, n,
               sum(n) OVER (PARTITION BY from_class) AS tot
        FROM trans
    )
    SELECT t.from_class, t.to_class,
           CAST(t.n AS BIGINT) AS n_customers,
           {share} AS share_of_from
    FROM tot t
    ORDER BY n_customers DESC, t.from_class, t.to_class
    LIMIT 20"""


def rfm_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 year-over-year RFM class transitions (within-year exact
    terciles on recency/frequency/monetary, class = 'rfm' digit string),
    with each transition's share of its origin class.

    Scale shape: one grouped agg per (customer, year); the tercile windows
    partition BY YEAR (calendar-parallel, never global); the transition
    join is a lag over each customer's short year sequence; the final
    matrix is bounded by 27x27 classes. STRING casts keep row_number's
    INT-vs-BIGINT engine difference out of the output.

    The Spark side totals the origin class with a window sum over the
    bounded trans relation (_RFM_MIG_WINDOW_TAIL) — the join spelling
    referenced trans twice and CTE inlining replayed the whole
    per_cy + 5-window chain per reference; the oracle keeps the join."""
    load_tables(spark, sf_dir)
    return spark.sql(
        _RFM_MIG_SQL.format(tail=_RFM_MIG_WINDOW_TAIL).format(
            share=R("t.n * 1e0 / t.tot", 4)
        )
    )


QUERIES["rfm_migration_matrix"] = rfm_migration_matrix
ORACLE["rfm_migration_matrix"] = _RFM_MIG_SQL.replace(
    "AS STRING", "AS VARCHAR"
).format(tail=_RFM_MIG_JOIN_TAIL).format(share=R("t.n * 1e0 / ft.tot", 4))
