"""Remaining TPC-H-classic query shapes (Q4/Q7/Q8/Q12/Q13/Q17/Q19/Q21/Q22
analogs) — the rest of the standard-SQL surface every warehouse wrapped by the
reference executes via `execute_sql` passthrough (SURVEY.md §2.B [implied];
`images/redshift/redshift.yaml:44-48`).

The driver schema is TPC-H-*ish* (no l_commitdate / l_receiptdate /
l_shipmode / p_container / c_phone), so each classic keeps its OPERATOR SHAPE
— EXISTS semi-join, double anti-join, two-level aggregation, disjunctive
pushdown, correlated scalar per group — with predicates adapted to the columns
that exist ("late" = l_shipdate > o_orderdate + N days).

Scale notes (100 TB design):
- Q4/Q21/Q22 use left_semi / left_anti joins, never IN-collect: semi/anti
  shuffle on the join key and stream both sides, no driver materialization.
- Q17's per-part quantity threshold is an aggregate-then-broadcast-join
  (2000·sf rows), not a correlated re-scan of lineitem per row.
- Q19's OR-of-ANDs stays a single scan: Catalyst pushes the disjunction into
  the Parquet reader as one residual filter after p⋈l, and the part side is
  broadcast.
- Q13 is the two-shuffle shape (custkey, then count) — the second shuffle's
  cardinality is tiny (distinct order counts), so AQE coalesces it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from database_toolbox_spark.functions import bounded_rank_window, disc_price, money, ratio, ts
from database_toolbox_spark.operators._oracle import R
from database_toolbox_spark.session import load_table, load_tables, materialize

_DISC = "l_extendedprice * (1 - l_discount)"


def priority_delivery_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 analog: orders in a quarter having at least one late lineitem
    (shipped >60 days after order date), counted per priority — EXISTS as a
    left-semi join (shuffles on the key, no driver-side IN list)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= ts("1996-03-01"))
        & (F.col("o_orderdate") < ts("1996-06-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(late.select("l_orderkey"),
                    orders.o_orderkey == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 analog: bilateral shipping volume between two nations per year.
    Both nation lookups are broadcast; the fact-side join chain shuffles once
    per key."""
    n1 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
        )
    )
    supplier = F.broadcast(load_table(spark, sf_dir, "supplier"))
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= ts("1996-01-01"))
        & (F.col("l_shipdate") < ts("1998-01-01"))
    )
    g1 = ["NATION_1", "NATION_2"]
    g2 = ["NATION_3", "NATION_4"]
    pair = (
        F.col("supp_nation").isin(g1) & F.col("cust_nation").isin(g2)
    ) | (F.col("supp_nation").isin(g2) & F.col("cust_nation").isin(g1))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(n1, supplier.s_nationkey == F.col("s_nk"))
        .join(n2, cust.c_nationkey == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(money(F.sum(disc_price())).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 analog: NATION_5's share of ECONOMY-part revenue sold into ASIA
    per year — conditional aggregation over a star join; every dimension is
    broadcast, the single shuffle is the year-group."""
    region = F.broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    nc = F.broadcast(load_table(spark, sf_dir, "nation"))
    ns = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
        )
    )
    part = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    )
    supplier = F.broadcast(load_table(spark, sf_dir, "supplier"))
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = disc_price()
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nc, cust.c_nationkey == nc.n_nationkey)
        .join(region, nc.n_regionkey == region.r_regionkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(ns, supplier.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            ratio(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(0.0))
                / F.sum(rev)
            ).alias("mkt_share"),
            money(F.sum(rev)).alias("total_revenue"),
        )
        .orderBy("o_year")
    )


def late_shipment_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 analog: for 1997 lineitems shipped >90 days after their order,
    count critical (1-URGENT/2-HIGH) vs non-critical orders per returnflag
    (the schema's stand-in for l_shipmode)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= ts("1997-01-01"))
        & (F.col("l_shipdate") < ts("1998-01-01"))
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 analog: distribution of customers by order count (orders not
    4-NOT SPECIFIED), including zero-order customers via left outer join —
    the two-level aggregation shape."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    hist = per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))
    w = bounded_rank_window(F.col("c_count"), F.col("custdist").desc(), F.col("c_count").desc())
    return (
        hist.orderBy(F.col("custdist").desc(), F.col("c_count").desc())
        .withColumn("rnk", F.row_number().over(w))
    )


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 analog: average yearly revenue lost if Brand#3 orders below half
    the part's average quantity were not taken. The per-part threshold is an
    aggregate-then-broadcast-join, not a correlated re-scan."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    li = load_table(spark, sf_dir, "lineitem")
    thresholds = F.broadcast(
        li.join(F.broadcast(part.select("p_partkey")),
                li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey")
        .agg((F.avg("l_quantity") * 0.5).alias("half_avg_qty"))
        .withColumnRenamed("l_partkey", "t_partkey")
    )
    return (
        li.join(thresholds, li.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            money(F.sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count("*").alias("n_small"),
        )
    )


def disjunctive_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 analog: revenue under an OR of (type, size-band, quantity-band)
    conjunctions — the disjunctive-pushdown shape; part is broadcast and the
    whole predicate evaluates in one codegen stage."""
    part = F.broadcast(load_table(spark, sf_dir, "part"))
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(part, li.l_partkey == part.p_partkey)
    band = (
        (
            (F.col("p_type") == "SMALL")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_type") == "MEDIUM")
            & F.col("p_size").between(10, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_type") == "LARGE")
            & F.col("p_size").between(20, 40)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.filter(band).agg(
        money(F.sum(disc_price())).alias("revenue"),
        F.count("*").alias("n_items"),
    )


def suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 analog: suppliers whose lineitem shipped late (>80 days after
    order) on a finished multi-supplier order where NO other supplier was
    late — EXISTS → left_semi, NOT EXISTS → left_anti on (orderkey,
    other-supplier) pairs; top-20 by wait count."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = F.broadcast(load_table(spark, sf_dir, "supplier"))
    # materialize: base feeds THREE branches (l1, the semi probe, the
    # anti probe) and a DataFrame reference is lineage, not a result —
    # unmaterialized, the lineitem-orders join executed three times
    # (guide §2.4; measured 0.80 -> 0.52 s at sf0.1)
    base = materialize(
        li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_suppkey",
            (F.col("l_shipdate") > F.col("o_orderdate")
             + F.expr("INTERVAL 80 DAYS")).alias("late"),
        )
    )
    l1 = base.filter(F.col("late")).select("l_orderkey", "l_suppkey")
    others = base.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    late_others = base.filter(F.col("late")).select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    waiting = (
        l1.join(
            others,
            (l1.l_orderkey == F.col("o2_orderkey"))
            & (l1.l_suppkey != F.col("o2_suppkey")),
            "left_semi",
        ).join(
            late_others,
            (l1.l_orderkey == F.col("o3_orderkey"))
            & (l1.l_suppkey != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    counts = (
        waiting.join(supplier, waiting.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )
    top = counts.orderBy(F.col("numwait").desc(), F.col("s_name")).limit(20)
    w = bounded_rank_window(F.col("s_name"), F.col("numwait").desc(), F.col("s_name"))
    return top.withColumn("rnk", F.row_number().over(w))


def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 analog: per nation, customers richer than the positive-balance
    average with no order since 2000 — scalar-subquery threshold (broadcast
    1-row cross join) + NOT EXISTS as left_anti."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= ts("2000-01-01")
    )
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders.select("o_custkey"),
              cust.c_custkey == F.col("o_custkey"), "left_anti")
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            money(F.sum("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 analog: the supplier(s) achieving the maximum quarterly revenue —
    aggregate once, compare against the broadcast 1-row max (the CREATE
    VIEW + max() shape, as a CTE). Revenue is canon-rounded BEFORE the
    equality so both engines select identical winners."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= ts("1996-01-01"))
        & (F.col("l_shipdate") < ts("1996-04-01"))
    )
    supplier = F.broadcast(load_table(spark, sf_dir, "supplier"))
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        money(F.sum(disc_price())).alias("total_rev")
    )
    mx = revenue.agg(F.max("total_rev").alias("max_rev"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(supplier, F.col("supplier_no") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


QUERIES = {
    "priority_delivery_check": priority_delivery_check,
    "top_supplier_revenue": top_supplier_revenue,
    "nation_trade_volume": nation_trade_volume,
    "market_share": market_share,
    "late_shipment_priorities": late_shipment_priorities,
    "customer_order_histogram": customer_order_histogram,
    "small_quantity_revenue": small_quantity_revenue,
    "disjunctive_band_revenue": disjunctive_band_revenue,
    "suppliers_kept_waiting": suppliers_kept_waiting,
    "idle_rich_customers": idle_rich_customers,
}

ORACLE = {
    "top_supplier_revenue": f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   {R(f"sum({_DISC})")} AS total_rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_rev
        FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_rev = (SELECT max(total_rev) FROM revenue)
        ORDER BY s.s_suppkey
    """,
    "priority_delivery_check": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-06-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "nation_trade_volume": f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INT) AS l_year,
               {R(f"sum(l.{_DISC})")} AS revenue
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND ((n1.n_name IN ('NATION_1', 'NATION_2')
                AND n2.n_name IN ('NATION_3', 'NATION_4'))
            OR (n1.n_name IN ('NATION_3', 'NATION_4')
                AND n2.n_name IN ('NATION_1', 'NATION_2')))
        GROUP BY n1.n_name, n2.n_name, CAST(year(l.l_shipdate) AS INT)
        ORDER BY supp_nation, cust_nation, l_year
    """,
    "market_share": f"""
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               {R(f"sum(CASE WHEN ns.n_name = 'NATION_5' THEN l.{_DISC} "
                  f"ELSE 0e0 END) / sum(l.{_DISC})", 4)} AS mkt_share,
               {R(f"sum(l.{_DISC})")} AS total_revenue
        FROM lineitem l
        JOIN part p      ON l.l_partkey = p.p_partkey
        JOIN orders o    ON l.l_orderkey = o.o_orderkey
        JOIN customer c  ON o.o_custkey = c.c_custkey
        JOIN nation nc   ON c.c_nationkey = nc.n_nationkey
        JOIN region r    ON nc.n_regionkey = r.r_regionkey
        JOIN supplier s  ON l.l_suppkey = s.s_suppkey
        JOIN nation ns   ON s.s_nationkey = ns.n_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        GROUP BY CAST(year(o.o_orderdate) AS INT)
        ORDER BY o_year
    """,
    "late_shipment_priorities": """
        SELECT l.l_returnflag,
               count(*) FILTER (WHERE o.o_orderpriority
                                IN ('1-URGENT', '2-HIGH')) AS high_line_count,
               count(*) FILTER (WHERE o.o_orderpriority
                                NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
        GROUP BY l.l_returnflag
        ORDER BY l.l_returnflag
    """,
    "customer_order_histogram": """
        WITH per_cust AS (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                              AND o.o_orderpriority <> '4-NOT SPECIFIED'
            GROUP BY c.c_custkey
        )
        SELECT c_count, custdist,
               CAST(row_number() OVER (ORDER BY custdist DESC, c_count DESC)
                    AS INT) AS rnk
        FROM (SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count)
        ORDER BY custdist DESC, c_count DESC
    """,
    "small_quantity_revenue": f"""
        WITH th AS (
            SELECT l_partkey AS t_partkey, avg(l_quantity) * 0.5e0 AS half_avg_qty
            FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part
                                WHERE p_brand = 'Brand#3')
            GROUP BY l_partkey
        )
        SELECT {R("sum(l.l_extendedprice) / 7e0")} AS avg_yearly,
               count(*) AS n_small
        FROM lineitem l JOIN th ON l.l_partkey = th.t_partkey
        WHERE l.l_quantity < th.half_avg_qty
    """,
    "disjunctive_band_revenue": f"""
        SELECT {R(f"sum(l.{_DISC})")} AS revenue, count(*) AS n_items
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_type = 'SMALL'  AND p.p_size BETWEEN 1  AND 15
               AND l.l_quantity BETWEEN 1  AND 20)
           OR (p.p_type = 'MEDIUM' AND p.p_size BETWEEN 10 AND 25
               AND l.l_quantity BETWEEN 10 AND 30)
           OR (p.p_type = 'LARGE'  AND p.p_size BETWEEN 20 AND 40
               AND l.l_quantity BETWEEN 20 AND 40)
    """,
    "suppliers_kept_waiting": """
        WITH base AS (
            SELECT l.l_orderkey, l.l_suppkey,
                   l.l_shipdate > o.o_orderdate + INTERVAL 80 DAY AS late
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderstatus = 'F'
        ),
        waiting AS (
            SELECT l1.l_orderkey, l1.l_suppkey
            FROM base l1
            WHERE l1.late
              AND EXISTS (SELECT 1 FROM base l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM base l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
        ),
        counts AS (
            SELECT s.s_name, count(*) AS numwait
            FROM waiting w JOIN supplier s ON w.l_suppkey = s.s_suppkey
            GROUP BY s.s_name
            ORDER BY numwait DESC, s.s_name
            LIMIT 20
        )
        SELECT s_name, numwait,
               CAST(row_number() OVER (ORDER BY numwait DESC, s_name) AS INT)
               AS rnk
        FROM counts
        ORDER BY numwait DESC, s_name
    """,
    "idle_rich_customers": f"""
        SELECT n.n_name,
               count(*) AS numcust,
               {R("sum(c.c_acctbal)")} AS totacctbal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer
                             WHERE c_acctbal > 0e0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY n.n_name
        ORDER BY n.n_name
    """,
}


# --- returns netting rollup -------------------------------------------------------
#
# The retail-warehouse "net sales bridge": gross discounted revenue vs the
# returned portion (l_returnflag = 'R'), netted per (order-month, market
# segment) — the TPC-DS-style sales/returns channel report expressed on
# the TPC-H schema.

_RETURNS_NET_SQL = """
    WITH li AS (
        SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS m,
               c.c_mktsegment AS segment,
               l.l_extendedprice * (1e0 - l.l_discount) AS rev,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT m AS order_month, segment,
           {gross} AS gross_revenue,
           {returns} AS returned_revenue,
           {net} AS net_revenue,
           {rate} AS return_rate
    FROM li
    GROUP BY m, segment
    HAVING count(*) >= 50
    ORDER BY order_month, segment
"""


def returns_netting_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gross vs returned vs net discounted revenue per (order month,
    segment) with the return rate — the sales/returns netting bridge.

    Scale shape: one three-way join (customer a dimension) into a single
    grouped agg on the calendar-bounded (month, segment) grid; all four
    measures come from the same pass (conditional aggregation, no second
    scan of the fact table)."""
    load_tables(spark, sf_dir)
    return spark.sql(_RETURNS_NET_SQL.format(
        gross=R("sum(rev)", 2),
        returns=R("sum(CASE WHEN ret = 1 THEN rev ELSE 0e0 END)", 2),
        net=R("sum(CASE WHEN ret = 0 THEN rev ELSE 0e0 END)", 2),
        rate=R("sum(CASE WHEN ret = 1 THEN rev ELSE 0e0 END) / sum(rev)", 4),
    ))


QUERIES["returns_netting_rollup"] = returns_netting_rollup
ORACLE["returns_netting_rollup"] = _RETURNS_NET_SQL.format(
    gross=R("sum(rev)", 2),
    returns=R("sum(CASE WHEN ret = 1 THEN rev ELSE 0e0 END)", 2),
    net=R("sum(CASE WHEN ret = 0 THEN rev ELSE 0e0 END)", 2),
    rate=R("sum(CASE WHEN ret = 1 THEN rev ELSE 0e0 END) / sum(rev)", 4),
)
