"""Statistical aggregates and list aggregation (SURVEY.md §2.B aggregations
[implied] — stddev/variance/corr/covar and string_agg/listagg are standard in
every warehouse the reference wraps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_toolbox_spark.functions import canon_round
from database_toolbox_spark.operators._oracle import R
from database_toolbox_spark.session import load_table, load_tables, materialize


def segment_stats_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stddev / variance / correlation / covariance per market segment."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return (
        j.groupBy("c_mktsegment")
        .agg(
            canon_round(F.stddev_samp("o_totalprice"), 4).alias("sd_price"),
            canon_round(F.var_samp("o_totalprice"), 2).alias("var_price"),
            canon_round(F.stddev_pop("o_totalprice"), 4).alias("sd_pop_price"),
            canon_round(F.corr("o_totalprice", "c_acctbal"), 6).alias(
                "corr_price_bal"
            ),
            canon_round(F.covar_samp("o_totalprice", "c_acctbal"), 2).alias(
                "covar_price_bal"
            ),
        )
        .orderBy("c_mktsegment")
    )


def nation_customer_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List aggregation (LISTAGG/string_agg): first 5 customer names per
    nation, deterministically ordered. collect_list order is
    non-deterministic in a distributed engine, so the canonical form is
    sort-after-collect — the same discipline string_agg(... ORDER BY)
    encodes in warehouses."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            F.array_join(
                F.slice(F.array_sort(F.collect_list("c_name")), 1, 5), ","
            ).alias("first5_names"),
        )
        .orderBy("c_nationkey")
    )


_TREND_SQL = """
        WITH monthly AS (
            SELECT c.c_mktsegment,
                   (year(o.o_orderdate) - 1995) * 12
                   + month(o.o_orderdate) - 1 AS m_idx,
                   floor(sum(o.o_totalprice) * 100 + 0.501e0) / 100e0 AS rev
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment,
                     (year(o.o_orderdate) - 1995) * 12
                     + month(o.o_orderdate) - 1
        )
        SELECT c_mktsegment,
               count(*) AS n_months,
               floor(regr_slope(rev, m_idx) * 10000 + 0.501e0) / 10000e0
                   AS slope,
               floor((regr_intercept(rev, m_idx)
                      + regr_slope(rev, m_idx) * (max(m_idx) + 1))
                     * 100 + 0.501e0) / 100e0 AS next_month_forecast
        FROM monthly
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
"""


def monthly_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment linear revenue trend + next-month forecast via the SQL
    regression aggregates (regr_slope/regr_intercept) — closed-form OLS as
    a one-pass distributed aggregate (covariance/variance partials merge
    like any algebraic aggregate; no iterative fitting, no driver math).
    Monthly inputs are canon-rounded first so both engines regress on
    identical doubles; identical SQL on both engines."""
    load_tables(spark, sf_dir)
    return spark.sql(_TREND_SQL)


_ANOMALY_SQL = """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   floor(sum(o_totalprice) * 100 + 0.501e0) / 100e0 AS rev
            FROM orders GROUP BY CAST(o_orderdate AS DATE)
        ),
        scored AS (
            -- PARTITION BY (hash%1): constant 0 in both dialects — the
            -- day series is cardinality-bounded, and the non-foldable
            -- constant declares the single partition as intentional
            -- (no executor scale warning)
            SELECT day, rev,
                   avg(rev) OVER w AS mu,
                   stddev_samp(rev) OVER w AS sd,
                   count(*) OVER w AS n_hist
            FROM daily
            WINDOW w AS (PARTITION BY (hash(day) % 1) ORDER BY day
                         ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)
        )
        SELECT day, rev,
               floor((rev - mu) / sd * 1e4 + 0.501e0) / 1e4 AS zscore,
               CAST(abs((rev - mu) / sd) > 2e0 AS INT) AS is_anomaly
        FROM scored
        WHERE n_hist >= 14 AND sd > 0e0
        ORDER BY day
"""


def daily_revenue_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly detection: each day's revenue scored against the
    TRAILING 28-day window (current day excluded — no leakage), flagged
    beyond 2σ. The window runs over the aggregated daily series, so the
    frame state is tiny regardless of fact-table size. Identical SQL on
    both engines; z-scores canon-rounded (window stddev accumulates in
    engine-specific order)."""
    load_tables(spark, sf_dir)
    return spark.sql(_ANOMALY_SQL)


def exact_percentile_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (non-approximate) interpolated percentiles per market segment
    via the one-pass `percentile(col, array(...))` aggregate — the ordered-
    set-aggregate surface (PERCENTILE_CONT) every wrapped warehouse exposes.
    Spark computes all three quantiles in a single sort-based aggregate per
    group (one shuffle, one pass); contrast with approx_percentile_check
    (operators/grouping.py) which trades exactness for a mergeable KLL-style
    sketch at unbounded scale."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    pct = F.expr("percentile(o_totalprice, array(0.25e0, 0.5e0, 0.75e0))")
    return (
        j.groupBy("c_mktsegment")
        .agg(
            canon_round(F.element_at(pct, 1), 4).alias("p25"),
            canon_round(F.element_at(pct, 2), 4).alias("p50"),
            canon_round(F.element_at(pct, 3), 4).alias("p75"),
            canon_round(
                F.element_at(pct, 3) - F.element_at(pct, 1), 4
            ).alias("iqr"),
        )
        .orderBy("c_mktsegment")
    )


def listagg_rich_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native LISTAGG ... WITHIN GROUP (ORDER BY ...) (Spark 4.0) — the
    declarative ordered string aggregation the warehouses spell LISTAGG /
    STRING_AGG. Filtered to a small set first so the aggregated strings stay
    bounded (at scale, unbounded LISTAGG per group is an anti-pattern —
    nation_customer_lists shows the truncating form)."""
    load_tables(spark, sf_dir)
    return spark.sql("""
        SELECT c_mktsegment,
               count(*) AS n_rich,
               listagg(c_name, '|') WITHIN GROUP (ORDER BY c_name)
                   AS rich_names
        FROM customer
        WHERE c_acctbal > 9900e0
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """)


_CHISQ_SQL = f"""
    WITH obs AS (
        SELECT c.c_mktsegment AS seg, o.o_orderstatus AS st,
               count(*) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_orderstatus
    ),
    rowt AS (SELECT seg, sum(n) AS rn FROM obs GROUP BY seg),
    colt AS (SELECT st, sum(n) AS cn FROM obs GROUP BY st),
    tot AS (SELECT sum(n) AS nn FROM obs)
    SELECT {R("sum((o.n - r.rn * c.cn * 1e0 / t.nn)"
              " * (o.n - r.rn * c.cn * 1e0 / t.nn)"
              " / (r.rn * c.cn * 1e0 / t.nn))", 6)} AS chi2,
           CAST((count(DISTINCT o.seg) - 1) * (count(DISTINCT o.st) - 1)
                AS INT) AS dof,
           count(*) AS n_cells
    FROM obs o
    JOIN rowt r ON r.seg = o.seg
    JOIN colt c ON c.st = o.st
    CROSS JOIN tot t
"""


def segment_status_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence (market segment × order status):
    the contingency-table statistic computed as pure SQL — observed cell
    counts, margin products for expected counts, one sum. Two shuffles
    total (cell groupBy + final scalar agg); margins broadcast. Identical
    SQL on both engines."""
    load_tables(spark, sf_dir)
    return spark.sql(_CHISQ_SQL)


def _divergence_sql(token_cte: str) -> str:
    """Per-source token-distribution diagnostics vs the corpus: Shannon
    entropy and KL(source ‖ corpus) — the mix-health numbers a training
    blend is tuned with. token_cte renders (source, t) token rows per
    dialect; everything after is shared SQL (ln exists in both)."""
    return f"""
        WITH tok AS ({token_cte}),
        st AS (SELECT source, t, count(*) AS c FROM tok GROUP BY source, t),
        s AS (SELECT source, sum(c) AS cs FROM st GROUP BY source),
        ct AS (SELECT t, sum(c) AS cc FROM st GROUP BY t),
        tot AS (SELECT sum(c) AS n FROM st)
        SELECT st.source,
               CAST(max(s.cs) AS BIGINT) AS n_tokens,
               {R("-sum((st.c * 1e0 / s.cs) * ln(st.c * 1e0 / s.cs))", 6)}
                   AS entropy,
               {R("sum((st.c * 1e0 / s.cs)"
                  " * ln((st.c * 1e0 / s.cs) / (ct.cc * 1e0 / t.n)))", 6)}
                   AS kl_to_corpus
        FROM st
        JOIN s ON s.source = st.source
        JOIN ct ON ct.t = st.t
        CROSS JOIN tot t
        GROUP BY st.source
        ORDER BY st.source
    """


def source_token_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy + KL-to-corpus per document source (corpus-mix drift check)."""
    load_tables(spark, sf_dir)
    return spark.sql(_divergence_sql(
        "SELECT source, explode(split(text, ' ')) AS t FROM documents"
    ))


def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.2) over the daily
    order-revenue series, truncated to a 20-day trailing frame — the
    smoothing half of the time-series toolkit next to
    daily_revenue_anomalies' z-scores.

    EWMA is a recursive definition SQL windows can't express directly; both
    engines compute it as a bounded LEFT FOLD over the frame's value list
    (Spark: collect_list over the frame + `aggregate`; DuckDB: `list`
    window + `list_reduce`) seeded with the frame's oldest value. Daily
    inputs are canon-rounded FIRST so both engines fold bit-identical
    doubles in the same order.

    Scale shape: the fold runs over the AGGREGATED daily series (one row
    per day, cardinality-bounded), never raw orders — aggregate first,
    window second; bounded_rank_window declares the single partition as
    intentional. Frame state is 20 doubles per row."""
    from database_toolbox_spark.functions import (  # noqa: PLC0415
        bounded_rank_window,
        money,
    )

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(money(F.sum("o_totalprice")).alias("day_revenue"))
    w = bounded_rank_window(F.col("day"), "day").rowsBetween(-19, 0)
    arr = F.collect_list("day_revenue").over(w)
    ewma = F.aggregate(
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.element_at(arr, 1).cast("double"),
        lambda acc, x: acc * F.lit(0.8) + F.lit(0.2) * x,
    )
    return (
        daily.select(
            "day",
            "day_revenue",
            canon_round(ewma, 2).alias("ewma20"),
        )
        .orderBy("day")
    )


_ROLLING_MEDIAN_SQL = """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   floor(sum(o_totalprice) * 100 + 0.501e0) / 100e0
                       AS day_revenue
            FROM orders GROUP BY CAST(o_orderdate AS DATE)
        ),
        med AS (
            -- hash%1 partition: constant — the daily series is bounded;
            -- declares the single partition intentional (_ANOMALY_SQL)
            SELECT day, day_revenue,
                   {median_fn} OVER (PARTITION BY (hash(day) % 1)
                       ORDER BY day
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS median7
            FROM daily
        )
        SELECT day, day_revenue,
               floor(median7 * 100 + 0.501e0) / 100e0 AS median7,
               CAST(day_revenue > 1.5e0 * median7 AS INT) AS is_spike
        FROM med
        ORDER BY day
"""


def rolling_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day MOVING MEDIAN of daily revenue plus a spike flag
    (revenue > 1.5x its own median) — the robust-smoothing companion to
    ewma_daily_revenue (mean-based) and daily_revenue_anomalies (z-score):
    a single outlier day cannot drag the median the way it drags a mean.

    Exact interpolated median per frame via the engines' windowed quantile
    (Spark `percentile`, DuckDB `quantile_cont` — same (1-f)·lo + f·hi
    interpolation on identical canon-rounded inputs). Runs over the
    aggregated daily series (cardinality-bounded; constant partition
    declared), frame state is 7 doubles per row."""
    load_tables(spark, sf_dir)
    return spark.sql(
        _ROLLING_MEDIAN_SQL.format(median_fn="percentile(day_revenue, 0.5e0)")
    )


_IQR_SQL = """
        WITH j AS (
            SELECT c.c_mktsegment AS seg, o.o_totalprice AS p
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        q AS (
            SELECT seg, {q1} AS q1, {q3} AS q3
            FROM j GROUP BY seg
        )
        SELECT j.seg AS c_mktsegment,
               count(*) AS n_orders,
               CAST(sum(CASE WHEN j.p > q.q3 + 1.5e0 * (q.q3 - q.q1)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers,
               CAST(sum(CASE WHEN j.p < q.q1 - 1.5e0 * (q.q3 - q.q1)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
               {rq1} AS q1,
               {rq3} AS q3
        FROM j JOIN q ON j.seg = q.seg
        GROUP BY j.seg, q.q1, q.q3
        ORDER BY c_mktsegment
"""


def iqr_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census per market segment: rows beyond
    q3 + 1.5·IQR / q1 − 1.5·IQR — the robust complement to the z-score
    anomaly scan (daily_revenue_anomalies), immune to the outliers it is
    counting.

    Deliberately TWO passes over the (pruned, 2-column) fact join rather
    than a per-segment window quantile: a windowed percentile PARTITIONed
    BY segment must buffer each segment's whole partition (5 giant
    partitions at 100 TB), while pass 1 reduces to a 5-row quantile table
    that broadcast-joins back into pass 2's streaming count. Exact
    interpolated quantiles are deterministic on both engines (same
    (1−f)·lo + f·hi on raw doubles — no accumulated sums involved)."""
    load_tables(spark, sf_dir)
    return spark.sql(_IQR_SQL.format(
        q1="percentile(p, 0.25e0)",
        q3="percentile(p, 0.75e0)",
        rq1=R("q.q1", 4),
        rq3=R("q.q3", 4),
    ))


_DOW_SQL = """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   {dow} AS dow,
                   floor(sum(o_totalprice) * 100 + 0.501e0) / 100e0 AS rev
            FROM orders GROUP BY CAST(o_orderdate AS DATE), {dow}
        ),
        per_dow AS (
            SELECT dow, count(*) AS n_days, avg(rev) AS mean_rev
            FROM daily GROUP BY dow
        ),
        overall AS (
            SELECT avg(rev) AS grand_mean FROM daily
        )
        SELECT p.dow, p.n_days,
               {mean_rev} AS mean_rev,
               {idx} AS seasonal_index
        FROM per_dow p CROSS JOIN overall o
        ORDER BY p.dow
"""
_MEAN_REV = "p.mean_rev"
_SEASONAL_IDX = "p.mean_rev / o.grand_mean"


def dow_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal profile of order revenue: mean daily revenue
    per weekday and its seasonal index (ratio to the grand daily mean) —
    the decomposition-lite companion to the trend/anomaly/median
    operators (a seasonal index far from 1 says the z-score detector
    should deseasonalize first).

    Two shrinking aggregates (day grain → 7-row weekday grain) plus a
    1-row grand-mean broadcast — the CROSS JOIN is the 1-row scalar
    pattern, not a real product. The weekday number is rendered per
    dialect (Spark dayofweek() is 1=Sunday; DuckDB dayofweek() is
    0=Sunday — shifted to match)."""
    load_tables(spark, sf_dir)
    return spark.sql(_DOW_SQL.format(
        dow="CAST(dayofweek(o_orderdate) AS BIGINT)",
        mean_rev=R(_MEAN_REV),
        idx=R(_SEASONAL_IDX, 4),
    ))


_THEIL_DAILY_SQL = """
        SELECT {xd} AS x, {rev} AS rev
        FROM orders
        WHERE o_orderdate >= DATE '1998-01-01'
          AND o_orderdate < DATE '1999-01-01'
        GROUP BY {xd}
"""

# {daily_cte} is empty on the Spark side (daily is a MATERIALIZED temp
# view — Catalyst re-inlines a thrice-referenced CTE, recomputing the
# orders aggregate per reference) and "daily AS MATERIALIZED (...)," on
# the DuckDB side; `fit` carries the slope median through to the
# residual median so the O(n^2) slopes join runs exactly once.
_THEIL_SEN_SQL = """
    WITH {daily_cte}
    slopes AS (
        SELECT (b.rev - a.rev) / (b.x - a.x) AS slope
        FROM {d} a JOIN {d} b ON a.x < b.x
    ),
    med AS (SELECT {med_slope} AS m FROM slopes),
    fit AS (
        SELECT med.m AS m, {med_resid} AS b0
        FROM {d} d CROSS JOIN med
        GROUP BY med.m
    )
    SELECT (SELECT count(*) FROM {d}) AS n_days,
           {slope_out} AS slope_per_day,
           {intercept_out} AS intercept
    FROM fit
"""


def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily revenue (1998): slope = median of
    all pairwise day-to-day slopes, intercept = median residual — the
    outlier-proof alternative to the OLS regr_slope operator (one bad
    day cannot move it, unlike least squares).

    Scale shape: aggregate-first — the O(n²) pairwise step runs on the
    DAILY aggregate, whose size is bounded by calendar length (a few
    thousand rows at ANY corpus scale), so the non-equi self-join is a
    broadcast over a trivially small series, never over fact rows. The
    daily aggregate is MATERIALIZED (it is referenced three times and
    Catalyst would otherwise recompute the orders scan+agg per
    reference) and the slope median rides the `fit` CTE into the
    residual pass so the pairwise join runs exactly once. The exact
    medians interpolate identically in both engines (same guard as
    exact_percentile_battery); outputs are canon-rounded."""
    load_tables(spark, sf_dir)
    materialize(spark.sql(_THEIL_DAILY_SQL.format(
        xd="datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01')",
        rev=R("sum(o_totalprice)"),
    ))).createOrReplaceTempView("ts_daily")
    return spark.sql(_THEIL_SEN_SQL.format(
        daily_cte="",
        d="ts_daily",
        med_slope="percentile(slope, 0.5e0)",
        med_resid="percentile(d.rev - med.m * d.x, 0.5e0)",
        slope_out=R("fit.m", 6),
        intercept_out=R("fit.b0", 2),
    ))


_MI_SQL = """
    WITH xy AS (
        SELECT c.c_mktsegment AS x, o.o_orderpriority AS y,
               count(*) AS c
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_orderpriority
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM xy),
    mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM xy GROUP BY x),
    my AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM xy GROUP BY y),
    hx AS (SELECT -sum((cx * 1e0 / t.n) * ln(cx * 1e0 / t.n)) AS h
           FROM mx CROSS JOIN tot t),
    hy AS (SELECT -sum((cy * 1e0 / t.n) * ln(cy * 1e0 / t.n)) AS h
           FROM my CROSS JOIN tot t),
    mi AS (
        SELECT count(*) AS n_cells,
               sum((xy.c * 1e0 / t.n)
                   * ln(xy.c * 1e0 * t.n / (mx.cx * 1e0 * my.cy))) AS v
        FROM xy
        JOIN mx ON mx.x = xy.x
        JOIN my ON my.y = xy.y
        CROSS JOIN tot t
    )
    SELECT mi.n_cells,
           {mi_out} AS mi_nats,
           {nmi_out} AS normalized_mi
    FROM mi CROSS JOIN hx CROSS JOIN hy
"""


def segment_priority_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (and entropy-normalized MI) between market
    segment and order priority — the effect-SIZE companion to the
    chi-square independence test (segment_status_chisq tells you
    whether dependence exists; MI tells you how much, in nats).

    One contingency aggregate (map-side combinable) then arithmetic on
    the ≤ |X|·|Y| cell table — margins, entropies, and the MI sum are
    all broadcast-scale regardless of corpus size. ln() operands are
    ratios of identical integers in both engines; the cell-sum order
    difference is absorbed by canon-rounding (KL-divergence guard)."""
    load_tables(spark, sf_dir)
    return spark.sql(_MI_SQL.format(
        mi_out=R("mi.v", 6),
        nmi_out=R("CASE WHEN hx.h * hy.h > 0e0"
                  " THEN mi.v / sqrt(hx.h * hy.h) ELSE 0e0 END", 6),
    ))


_MAD_SQL = """
    WITH j AS (
        SELECT c.c_mktsegment AS seg, o.o_totalprice AS p
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    m1 AS (SELECT seg, {med_p} AS med FROM j GROUP BY seg),
    m2 AS (
        SELECT j.seg, {med_dev} AS mad
        FROM j JOIN m1 ON m1.seg = j.seg
        GROUP BY j.seg
    )
    SELECT j.seg AS c_mktsegment,
           count(*) AS n_orders,
           {med_out} AS median_price,
           {mad_out} AS mad,
           CASE WHEN m2.mad > 0e0 THEN
               CAST(sum(CASE WHEN abs(j.p - m1.med)
                                  > 3e0 * 1.4826e0 * m2.mad
                        THEN 1 ELSE 0 END) AS BIGINT)
           ELSE CAST(NULL AS BIGINT) END AS n_outliers
    FROM j
    JOIN m1 ON m1.seg = j.seg
    JOIN m2 ON m2.seg = j.seg
    GROUP BY j.seg, m1.med, m2.mad
    ORDER BY c_mktsegment
"""


def mad_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier census per segment (|x − med| >
    3·1.4826·MAD, the robust z-score) — a THIRD robust detector next to
    the Tukey fence (iqr_outlier_counts) and the rolling z-score
    (daily_revenue_anomalies); MAD has a 50% breakdown point where the
    IQR fence has 25%.

    Three shrinking passes over the pruned 2-column join (median →
    MAD → count), each reducing to a 5-row broadcast joined back — the
    same no-giant-window rationale as the IQR operator. Exact
    interpolated medians are engine-deterministic on raw doubles."""
    load_tables(spark, sf_dir)
    return spark.sql(_MAD_SQL.format(
        med_p="percentile(p, 0.5e0)",
        med_dev="percentile(abs(j.p - m1.med), 0.5e0)",
        med_out=R("m1.med", 2),
        mad_out=R("m2.mad", 2),
    ))


QUERIES = {
    "segment_priority_mutual_info": segment_priority_mutual_info,
    "mad_outlier_counts": mad_outlier_counts,
    "theil_sen_trend": theil_sen_trend,
    "ewma_daily_revenue": ewma_daily_revenue,
    "rolling_median_revenue": rolling_median_revenue,
    "iqr_outlier_counts": iqr_outlier_counts,
    "dow_seasonality_profile": dow_seasonality_profile,
    "segment_status_chisq": segment_status_chisq,
    "source_token_divergence": source_token_divergence,
    "daily_revenue_anomalies": daily_revenue_anomalies,
    "exact_percentile_battery": exact_percentile_battery,
    "listagg_rich_names": listagg_rich_names,
    "monthly_revenue_trend": monthly_revenue_trend,
    "segment_stats_battery": segment_stats_battery,
    "nation_customer_lists": nation_customer_lists,
}

ORACLE = {
    "segment_priority_mutual_info": _MI_SQL.format(
        mi_out=R("mi.v", 6),
        nmi_out=R("CASE WHEN hx.h * hy.h > 0e0"
                  " THEN mi.v / sqrt(hx.h * hy.h) ELSE 0e0 END", 6),
    ),
    "mad_outlier_counts": _MAD_SQL.format(
        med_p="quantile_cont(p, 0.5e0)",
        med_dev="quantile_cont(abs(j.p - m1.med), 0.5e0)",
        med_out=R("m1.med", 2),
        mad_out=R("m2.mad", 2),
    ),
    "theil_sen_trend": _THEIL_SEN_SQL.format(
        daily_cte="daily AS MATERIALIZED (" + _THEIL_DAILY_SQL.format(
            xd="date_diff('day', DATE '1992-01-01',"
               " CAST(o_orderdate AS DATE))",
            rev=R("sum(o_totalprice)"),
        ) + "),",
        d="daily",
        med_slope="quantile_cont(slope, 0.5e0)",
        med_resid="quantile_cont(d.rev - med.m * d.x, 0.5e0)",
        slope_out=R("fit.m", 6),
        intercept_out=R("fit.b0", 2),
    ),
    # DuckDB dayofweek is 0=Sunday; Spark is 1=Sunday — shift to match
    "dow_seasonality_profile": _DOW_SQL.format(
        dow="(dayofweek(o_orderdate) + 1)",
        mean_rev=R(_MEAN_REV),
        idx=R(_SEASONAL_IDX, 4),
    ),
    "iqr_outlier_counts": _IQR_SQL.format(
        q1="quantile_cont(p, 0.25e0)",
        q3="quantile_cont(p, 0.75e0)",
        rq1=R("q.q1", 4),
        rq3=R("q.q3", 4),
    ),
    "rolling_median_revenue": _ROLLING_MEDIAN_SQL.format(
        median_fn="quantile_cont(day_revenue, 0.5e0)"
    ),
    "ewma_daily_revenue": f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   {R("sum(o_totalprice)")} AS day_revenue
            FROM orders GROUP BY CAST(o_orderdate AS DATE)
        ),
        arrs AS (
            SELECT day, day_revenue,
                   list(day_revenue) OVER (ORDER BY day
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS arr
            FROM daily
        )
        SELECT day, day_revenue,
               {R("list_reduce(arr, (acc, x) -> acc * 0.8e0 + 0.2e0 * x)")}
                   AS ewma20
        FROM arrs ORDER BY day
    """,
    "segment_status_chisq": _CHISQ_SQL,
    "source_token_divergence": _divergence_sql(
        "SELECT source, unnest(string_split(text, ' ')) AS t FROM documents"
    ),
    "daily_revenue_anomalies": _ANOMALY_SQL,
    "exact_percentile_battery": f"""
        SELECT c.c_mktsegment,
               {R("quantile_cont(o.o_totalprice, 0.25)", 4)} AS p25,
               {R("quantile_cont(o.o_totalprice, 0.50)", 4)} AS p50,
               {R("quantile_cont(o.o_totalprice, 0.75)", 4)} AS p75,
               {R("quantile_cont(o.o_totalprice, 0.75)"
                  " - quantile_cont(o.o_totalprice, 0.25)", 4)} AS iqr
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
    "listagg_rich_names": """
        SELECT c_mktsegment,
               count(*) AS n_rich,
               string_agg(c_name, '|' ORDER BY c_name) AS rich_names
        FROM customer
        WHERE c_acctbal > 9900e0
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    "monthly_revenue_trend": _TREND_SQL,
    "segment_stats_battery": f"""
        SELECT c.c_mktsegment,
               {R("stddev_samp(o.o_totalprice)", 4)}              AS sd_price,
               {R("var_samp(o.o_totalprice)")}                    AS var_price,
               {R("stddev_pop(o.o_totalprice)", 4)}               AS sd_pop_price,
               {R("corr(o.o_totalprice, c.c_acctbal)", 6)}        AS corr_price_bal,
               {R("covar_samp(o.o_totalprice, c.c_acctbal)")}     AS covar_price_bal
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
    "nation_customer_lists": """
        SELECT c_nationkey,
               count(*) AS n_customers,
               array_to_string(list_sort(list(c_name))[1:5], ',') AS first5_names
        FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
    """,
}


_TRIMMED_SQL = """
    WITH j AS (
        SELECT c.c_mktsegment AS seg, o.o_totalprice AS p
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    q AS (SELECT seg, {p05} AS lo, {p95} AS hi FROM j GROUP BY seg)
    SELECT j.seg AS c_mktsegment,
           count(*) AS n_orders,
           {mean_out} AS mean_price,
           {trimmed_out} AS trimmed_mean,
           {winsor_out} AS winsorized_mean,
           {lo_out} AS p05,
           {hi_out} AS p95
    FROM j JOIN q ON q.seg = j.seg
    GROUP BY j.seg, q.lo, q.hi
    ORDER BY c_mktsegment
"""


def trimmed_mean_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed and winsorized segment means — the robust-location
    battery's third member (median/MAD and Tukey fences being the
    others): trimming drops the tails, winsorizing clamps them
    (least/greatest), so heavy-tailed revenue can't drag the mean.

    Same two-pass broadcast shape as the IQR/MAD operators: a 5-row
    quantile table joins back into one streaming aggregate. Tail
    boundaries are interpolated quantiles — exactly a data value or
    strictly off the money grid, so tail membership is
    engine-deterministic."""
    load_tables(spark, sf_dir)
    return spark.sql(_TRIMMED_SQL.format(
        p05="percentile(p, 0.05e0)",
        p95="percentile(p, 0.95e0)",
        mean_out=R("avg(j.p)", 2),
        trimmed_out=R("avg(CASE WHEN j.p >= q.lo AND j.p <= q.hi "
                      "THEN j.p END)", 2),
        winsor_out=R("avg(least(greatest(j.p, q.lo), q.hi))", 2),
        lo_out=R("q.lo", 2),
        hi_out=R("q.hi", 2),
    ))


QUERIES["trimmed_mean_prices"] = trimmed_mean_prices
ORACLE["trimmed_mean_prices"] = _TRIMMED_SQL.format(
    p05="quantile_cont(p, 0.05e0)",
    p95="quantile_cont(p, 0.95e0)",
    mean_out=R("avg(j.p)", 2),
    trimmed_out=R("avg(CASE WHEN j.p >= q.lo AND j.p <= q.hi "
                  "THEN j.p END)", 2),
    winsor_out=R("avg(least(greatest(j.p, q.lo), q.hi))", 2),
    lo_out=R("q.lo", 2),
    hi_out=R("q.hi", 2),
)


N_BOOTSTRAP = 200  # resamples (B); grows the tiny daily series B-fold only

# Poisson(1) inverse-CDF ladder (exact CDF values to 6 dp) — the weight
# distribution of the POISSON bootstrap: at scale one cannot draw n rows
# with replacement (that needs a global index), but each row can draw an
# independent Poisson(1) replication count, which converges to the same
# bootstrap distribution (Chamandy et al., "Estimating Uncertainty for
# Massive Data Streams", Google TR 2012).
_POIS_LADDER = (
    "CASE WHEN {u} < 0.367879e0 THEN 0 WHEN {u} < 0.735759e0 THEN 1 "
    "WHEN {u} < 0.919699e0 THEN 2 WHEN {u} < 0.981012e0 THEN 3 "
    "WHEN {u} < 0.99634e0 THEN 4 WHEN {u} < 0.999406e0 THEN 5 "
    "WHEN {u} < 0.999917e0 THEN 6 ELSE 7 END"
)

_BOOTSTRAP_SQL = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, {rev} AS rev
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    reps AS ({rep_src}),
    drawn AS (
        SELECT r.b, d.rev,
               {pois} AS w
        FROM daily d CROSS JOIN reps r
    ),
    means AS (
        SELECT b, sum(w * rev) / sum(w) AS m
        FROM drawn GROUP BY b HAVING sum(w) > 0
    ),
    pt AS (SELECT {mean_rev} AS grand_mean FROM daily)
    SELECT (SELECT count(*) FROM means) AS n_resamples,
           pt.grand_mean,
           {lo} AS ci_lo_95,
           {hi} AS ci_hi_95
    FROM pt
"""


def bootstrap_ci_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for MEAN DAILY revenue via the
    POISSON bootstrap — the resampling scheme that actually works
    distributed: classic bootstrap needs global sampling with
    replacement (a coordinated index), while Poisson(1) replication
    counts are PER-ROW independent draws, so each resample is one more
    weight column, embarrassingly parallel. Weights come from md5-
    derived uniforms through an exact inverse-CDF ladder — identical
    integers → identical weights in both engines, no RNG.

    Scale shape: the corpus reduces to the daily aggregate FIRST; the
    B-fold cross join multiplies only that calendar-bounded series
    (2400 days × 200 resamples ≈ 0.5M tiny rows), and each resample
    mean is one grouped aggregate. CI bounds are exact interpolated
    percentiles of the B resample means."""
    load_tables(spark, sf_dir)
    u = ("(CAST(conv(substring(md5(concat(CAST(d.day AS STRING), '_',"
         " CAST(r.b AS STRING))), 1, 8), 16, 10) AS BIGINT)"
         " / 4294967296e0)")
    return spark.sql(_BOOTSTRAP_SQL.format(
        rev=R("sum(o_totalprice)"),
        rep_src=f"SELECT id AS b FROM range({N_BOOTSTRAP})",
        pois=_POIS_LADDER.format(u=u),
        mean_rev=R("avg(rev)", 2),
        lo=R("(SELECT percentile(m, 0.025e0) FROM means)", 2),
        hi=R("(SELECT percentile(m, 0.975e0) FROM means)", 2),
    ))


QUERIES["bootstrap_ci_daily_revenue"] = bootstrap_ci_daily_revenue

_DUCK_BOOT_U = ("(CAST(concat('0x', substr(md5(concat(CAST(d.day AS"
                " VARCHAR), '_', CAST(r.b AS VARCHAR))), 1, 8)) AS BIGINT)"
                " / 4294967296e0)")

ORACLE["bootstrap_ci_daily_revenue"] = _BOOTSTRAP_SQL.format(
    rev=R("sum(o_totalprice)"),
    rep_src=f"SELECT unnest(range({N_BOOTSTRAP})) AS b",
    pois=_POIS_LADDER.format(u=_DUCK_BOOT_U),
    mean_rev=R("avg(rev)", 2),
    lo=R("(SELECT quantile_cont(m, 0.025e0) FROM means)", 2),
    hi=R("(SELECT quantile_cont(m, 0.975e0) FROM means)", 2),
)


_BACKTEST_SQL = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, {rev} AS rev
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    lagged AS (
        -- hash%1 partition: bounded daily series (see _ANOMALY_SQL)
        SELECT day, rev,
               lag(rev, 1) OVER w AS naive1,
               lag(rev, 7) OVER w AS seasonal7
        FROM daily
        WINDOW w AS (PARTITION BY (hash(day) % 1) ORDER BY day)
    ),
    test AS (
        SELECT * FROM lagged
        WHERE day >= DATE '1998-07-01' AND seasonal7 IS NOT NULL
    )
    SELECT 'naive_lag1' AS model, count(*) AS n_days,
           {mae1} AS mae, {mape1} AS mape_pct
    FROM test
    UNION ALL
    SELECT 'seasonal_lag7', count(*),
           {mae7}, {mape7}
    FROM test
    ORDER BY model
"""


def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-model backtest harness: score the two standard
    zero-parameter baselines (yesterday's value; same weekday last
    week) on a one-month holdout with MAE and MAPE — the sanity floor
    every real forecaster must beat before it ships (the OLS trend and
    EWMA operators produce the candidates; this scores them against
    the do-nothing models).

    One daily aggregate, two lag windows over the calendar-bounded
    series, one grouped error rollup per model — no corpus-scale
    shuffle. Identical SQL both engines."""
    load_tables(spark, sf_dir)
    return spark.sql(_BACKTEST_SQL.format(
        rev=R("sum(o_totalprice)"),
        mae1=R("avg(abs(rev - naive1))", 2),
        mape1=R("avg(abs(rev - naive1) / rev) * 100e0", 4),
        mae7=R("avg(abs(rev - seasonal7))", 2),
        mape7=R("avg(abs(rev - seasonal7) / rev) * 100e0", 4),
    ))


QUERIES["seasonal_naive_backtest"] = seasonal_naive_backtest
ORACLE["seasonal_naive_backtest"] = _BACKTEST_SQL.format(
    rev=R("sum(o_totalprice)"),
    mae1=R("avg(abs(rev - naive1))", 2),
    mape1=R("avg(abs(rev - naive1) / rev) * 100e0", 4),
    mae7=R("avg(abs(rev - seasonal7))", 2),
    mape7=R("avg(abs(rev - seasonal7) / rev) * 100e0", 4),
)


_HHI_SQL = """
    WITH per_cust AS (
        SELECT c.c_mktsegment AS seg, o.o_custkey AS k,
               sum(o.o_totalprice) AS rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_custkey
    ),
    tot AS (SELECT seg, sum(rev) AS t, count(*) AS n FROM per_cust
            GROUP BY seg)
    SELECT p.seg AS c_mktsegment,
           t.n AS n_customers,
           {hhi} AS hhi,
           {hhi_norm} AS hhi_normalized
    FROM per_cust p JOIN tot t ON t.seg = p.seg
    GROUP BY p.seg, t.t, t.n
    ORDER BY c_mktsegment
"""


def segment_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of revenue per market segment:
    HHI = Σ shareᵢ² — the antitrust-style concentration index, and the
    algebraic-aggregate companion to the rank-based Gini (one grouped
    pass, map-side combinable, no ranks at all; normalized form rescales
    [1/n, 1] → [0, 1]). Same customer grain both engines; share
    squaring order differences are absorbed by canon-rounding."""
    load_tables(spark, sf_dir)
    return spark.sql(_HHI_SQL.format(
        hhi=R("sum((p.rev / t.t) * (p.rev / t.t))", 6),
        hhi_norm=R("(sum((p.rev / t.t) * (p.rev / t.t)) - 1e0 / t.n)"
                   " / (1e0 - 1e0 / t.n)", 6),
    ))


QUERIES["segment_revenue_hhi"] = segment_revenue_hhi
ORACLE["segment_revenue_hhi"] = _HHI_SQL.format(
    hhi=R("sum((p.rev / t.t) * (p.rev / t.t))", 6),
    hhi_norm=R("(sum((p.rev / t.t) * (p.rev / t.t)) - 1e0 / t.n)"
               " / (1e0 - 1e0 / t.n)", 6),
)


_MOMENT_SQL = f"""
    WITH j AS (
        SELECT c.c_mktsegment AS seg, o.o_totalprice AS p
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    m AS (SELECT seg, avg(p) AS mu, count(*) AS n FROM j GROUP BY seg),
    cm AS (
        SELECT j.seg,
               avg((j.p - m.mu) * (j.p - m.mu)) AS m2,
               avg(pow(j.p - m.mu, 3)) AS m3,
               avg(pow(j.p - m.mu, 4)) AS m4
        FROM j JOIN m ON m.seg = j.seg
        GROUP BY j.seg
    )
    SELECT cm.seg AS c_mktsegment,
           CAST(m.n AS BIGINT) AS n_orders,
           {R("m.mu", 2)} AS mean_price,
           {R("sqrt(cm.m2)", 2)} AS stddev_pop,
           {R("cm.m3 / pow(cm.m2, 1.5e0)", 4)} AS skewness,
           {R("cm.m4 / (cm.m2 * cm.m2) - 3e0", 4)} AS excess_kurtosis
    FROM cm JOIN m ON m.seg = cm.seg
    ORDER BY c_mktsegment
"""


def moment_profile_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis of order prices per market
    segment, computed from explicit central moments — the shape
    diagnostics next to the location/scale battery (segment_stats). Both
    engines ship skewness()/kurtosis() built-ins but with DIFFERENT bias
    corrections (Spark population vs DuckDB sample), so the shared SQL
    spells out m2/m3/m4 and the dimensionless ratios g1 = m3/m2^1.5,
    g2 = m4/m2^2 - 3, identical in both dialects.

    Scale shape: two grouped passes over the pruned 2-column join (mean,
    then centered moments — map-side combinable avg of powers), each
    reducing to a 5-row broadcast. The ratios normalize away the raw
    moment magnitudes, so canon-rounding at 4 decimals absorbs float
    merge-order ulps."""
    load_tables(spark, sf_dir)
    return spark.sql(_MOMENT_SQL)


QUERIES["moment_profile_by_segment"] = moment_profile_by_segment
ORACLE["moment_profile_by_segment"] = _MOMENT_SQL


_CONFORMAL_SQL = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, {rev} AS rev
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    lagged AS (
        SELECT day, rev,
               lag(rev, 1) OVER (PARTITION BY dayofweek(day)
                                 ORDER BY day) AS pred
        FROM daily
    ),
    resid AS (
        SELECT day, abs(rev - pred) AS ar
        FROM lagged WHERE pred IS NOT NULL
    ),
    q AS (SELECT {q90} AS q FROM resid WHERE day < DATE '1997-01-01')
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM resid
            WHERE day < DATE '1997-01-01') AS n_cal,
           CAST(count(*) AS BIGINT) AS n_eval,
           {q_out} AS q90_resid,
           {cov} AS coverage
    FROM resid r CROSS JOIN q
    WHERE r.day >= DATE '1997-01-01'
    GROUP BY q.q
"""


def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the daily-revenue
    seasonal-naive forecaster (Vovk et al.; the distribution-free
    calibration every forecast pipeline should ship): calibrate the 90%
    absolute-residual quantile on pre-1997 days, then measure empirical
    coverage of mean +- q on the held-out days. A well-calibrated
    interval covers ~90% out of sample regardless of the error
    distribution — the check that catches a forecaster whose errors
    fatten over time.

    The per-weekday lag gives the week-over-week seasonal-naive
    prediction with a NATURALLY partitioned window (7 partitions, never
    global). Daily revenues are canon-rounded before differencing, so
    residuals are bit-identical across engines and the interpolated
    quantile is deterministic (exact_percentile_battery guard); the
    coverage knife-edge ar = q is consistent for the same reason.

    Scale shape: one grouped day aggregate (calendar-bounded), one
    7-partition window, one scalar quantile broadcast back — nothing
    scales beyond the day series."""
    load_tables(spark, sf_dir)
    return spark.sql(_CONFORMAL_SQL.format(
        rev=R("sum(o_totalprice)"),
        q90="percentile(ar, 0.9e0)",
        q_out=R("q.q", 2),
        cov=R("avg(CASE WHEN r.ar <= q.q THEN 1e0 ELSE 0e0 END)", 4),
    ))


QUERIES["conformal_interval_coverage"] = conformal_interval_coverage
ORACLE["conformal_interval_coverage"] = _CONFORMAL_SQL.format(
    rev=R("sum(o_totalprice)"),
    q90="quantile_cont(ar, 0.9e0)",
    q_out=R("q.q", 2),
    cov=R("avg(CASE WHEN r.ar <= q.q THEN 1e0 ELSE 0e0 END)", 4),
)


HOLT_ALPHA = "0.3e0"  # level smoothing
HOLT_1MA = "0.7e0"
HOLT_BETA = "0.1e0"  # trend smoothing
HOLT_1MB = "0.9e0"


def holt_linear_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's two-parameter linear-trend smoothing (alpha=0.3, beta=0.1)
    over the daily revenue series, truncated to a 28-day trailing frame —
    the trend-aware sibling of ewma_daily_revenue (EWMA lags a trending
    series by design; Holt tracks level AND slope, and level + trend is
    the one-step-ahead forecast).

    Holt's recursion carries TWO states, which the EWMA double-fold
    can't hold — both engines fold a [level, trend] ARRAY accumulator
    over the frame's value list (Spark: `aggregate` with an array zero;
    DuckDB: `list_reduce` seeded by list_prepend-ing the init state,
    since its accumulator must share the element type). Seeds are the
    classic l1 = y1, b1 = y2 - y1. Daily inputs are canon-rounded FIRST
    so both engines fold bit-identical doubles in the same order.

    Scale shape: identical to EWMA — the fold runs over the AGGREGATED
    daily series (calendar-bounded), never raw orders; frame state is 28
    doubles per row; bounded_rank_window declares the single partition
    intentional."""
    from database_toolbox_spark.functions import (  # noqa: PLC0415
        bounded_rank_window,
        money,
    )

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(money(F.sum("o_totalprice")).alias("day_revenue"))
    w = bounded_rank_window(F.col("day"), "day").rowsBetween(-27, 0)
    fold = F.expr(f"""
        aggregate(
            transform(slice(arr, 3, size(arr) - 2),
                      y -> CAST(y AS DOUBLE)),
            array(CAST(element_at(arr, 1) AS DOUBLE),
                  CAST(element_at(arr, 2) AS DOUBLE)
                  - CAST(element_at(arr, 1) AS DOUBLE)),
            (acc, y) -> array(
                {HOLT_ALPHA} * y + {HOLT_1MA} * (acc[0] + acc[1]),
                {HOLT_BETA} * ({HOLT_ALPHA} * y
                               + {HOLT_1MA} * (acc[0] + acc[1])
                               - acc[0])
                + {HOLT_1MB} * acc[1])
        )
    """)
    return (
        daily.withColumn("arr", F.collect_list("day_revenue").over(w))
        .where(F.size("arr") >= 3)
        .withColumn("hb", fold)
        .select(
            "day",
            "day_revenue",
            canon_round(F.expr("hb[0]"), 2).alias("level"),
            canon_round(F.expr("hb[1]"), 4).alias("trend"),
            canon_round(F.expr("hb[0] + hb[1]"), 2).alias("forecast_next"),
        )
        .orderBy("day")
    )


QUERIES["holt_linear_daily_revenue"] = holt_linear_daily_revenue
ORACLE["holt_linear_daily_revenue"] = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               {R("sum(o_totalprice)")} AS day_revenue
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    arrs AS (
        SELECT day, day_revenue,
               list(day_revenue) OVER (ORDER BY day
                   ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) AS arr
        FROM daily
    ),
    hb AS (
        SELECT day, day_revenue,
               list_reduce(
                   list_prepend([CAST(arr[1] AS DOUBLE),
                                 CAST(arr[2] AS DOUBLE)
                                 - CAST(arr[1] AS DOUBLE)],
                                list_transform(arr[3:],
                                               y -> [CAST(y AS DOUBLE)])),
                   (acc, y) -> [
                       {HOLT_ALPHA} * y[1]
                       + {HOLT_1MA} * (acc[1] + acc[2]),
                       {HOLT_BETA} * ({HOLT_ALPHA} * y[1]
                                      + {HOLT_1MA} * (acc[1] + acc[2])
                                      - acc[1])
                       + {HOLT_1MB} * acc[2]]
               ) AS f
        FROM arrs WHERE len(arr) >= 3
    )
    SELECT day, day_revenue,
           {R("f[1]", 2)} AS level,
           {R("f[2]", 4)} AS trend,
           {R("f[1] + f[2]", 2)} AS forecast_next
    FROM hb ORDER BY day
"""


CUSUM_K = "0.5e0"  # slack, in sigma units
CUSUM_H = "5e0"  # decision threshold, in sigma units

_CUSUM_SQL = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, {{rev}} AS rev
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    calib AS (
        SELECT avg(rev) AS mu, stddev_samp(rev) AS sd
        FROM daily WHERE day < DATE '1997-01-01'
    ),
    z AS (
        SELECT day, rev,
               {{zr}} AS zs
        FROM daily CROSS JOIN calib
    ),
    runsum AS (
        -- CUSUM closed form: S+_t = cum_t - min(0, cum_1..cum_t) with
        -- cum = running sum of (z - k); likewise S-_t on (-z - k).
        -- Running sums/mins evaluate incrementally in day order, so both
        -- engines fold identical 6-dec-rounded z values identically.
        -- bounded window: z has one row per calendar day
        SELECT day, rev,
               sum(zs - {CUSUM_K}) OVER w AS cp,
               sum(-zs - {CUSUM_K}) OVER w AS cn
        FROM z
        WINDOW w AS (PARTITION BY (hash(day) % 1) ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    cums AS (
        SELECT day, rev, cp, cn,
               min(cp) OVER w AS mp,
               min(cn) OVER w AS mn
        FROM runsum
        WINDOW w AS (PARTITION BY (hash(day) % 1) ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT day, rev,
           {{sp}} AS cusum_pos,
           {{sn}} AS cusum_neg,
           CAST(cp - least(mp, 0e0) > {CUSUM_H}
                OR cn - least(mn, 0e0) > {CUSUM_H} AS INT) AS is_shift
    FROM cums
    WHERE day >= DATE '1997-01-01'
    ORDER BY day
"""


def cusum_shift_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM mean-shift detector (Page, 1954) on the daily
    revenue series: standardize against the pre-1997 calibration
    window, then S+_t = max(0, S+_{t-1} + z_t - k), alarming when
    either side exceeds h = 5 sigma-units — the sequential detector
    that catches small persistent drifts z-score thresholds
    (daily_revenue_anomalies) miss.

    The recursion is NOT folded: CUSUM has the closed form
    S+_t = cum_t - min(0, min_{j<=t} cum_j) over the running sum of
    (z - k), so two stacked window aggregates (running sum, running
    min) replace any per-row recursion — cheaper than the EWMA/Holt
    list folds and exactly equal to the recursive definition
    (tests/test_round4_ops.py proves it against a Python recursion).

    Scale shape: one day-grain aggregate, one broadcast calibration
    scalar, two windows over the calendar-bounded series (single
    partition declared via the hash%1 pattern). z-scores are
    canon-rounded BEFORE cumulation so both engines sum identical
    doubles in identical order."""
    load_tables(spark, sf_dir)
    return spark.sql(_CUSUM_SQL.format(
        rev=R("sum(o_totalprice)"),
        zr=R("(rev - mu) / sd", 6),
        sp=R("cp - least(mp, 0e0)", 4),
        sn=R("cn - least(mn, 0e0)", 4),
    ))


QUERIES["cusum_shift_detection"] = cusum_shift_detection
ORACLE["cusum_shift_detection"] = _CUSUM_SQL.format(
    rev=R("sum(o_totalprice)"),
    zr=R("(rev - mu) / sd", 6),
    sp=R("cp - least(mp, 0e0)", 4),
    sn=R("cn - least(mn, 0e0)", 4),
)


_WELCH_SQL = """
    WITH assigned AS (
        SELECT {bucket} AS grp, o.o_totalprice AS v
        FROM orders o
    ),
    g AS (
        SELECT grp, count(*) AS n, avg(v) AS m, var_samp(v) AS s2
        FROM assigned GROUP BY grp
    ),
    ab AS (
        SELECT a.n AS na, b.n AS nb, a.m AS ma, b.m AS mb,
               a.s2 / a.n + b.s2 / b.n AS se2,
               (a.s2 / a.n + b.s2 / b.n)
               * (a.s2 / a.n + b.s2 / b.n)
               / (a.s2 * a.s2 / (a.n * a.n * (a.n - 1))
                  + b.s2 * b.s2 / (b.n * b.n * (b.n - 1))) AS df
        FROM g a JOIN g b ON a.grp = 0 AND b.grp = 1
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           {ma_out} AS mean_a, {mb_out} AS mean_b,
           {t_out} AS t_stat,
           {df_out} AS welch_df,
           CAST(abs((ma - mb) / sqrt(se2)) > 1.96e0 AS INT) AS significant
    FROM ab
"""


def welch_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test over a deterministic
    md5 A/B split of orders (the experiment-analysis primitive): group
    means, the t statistic, and the Welch-Satterthwaite effective
    degrees of freedom. The md5 split is the same reproducible
    hash-bucket assignment hash_split_counts uses — no RNG, so the
    verdict is stable across engines and runs. (A uniform random split
    of one population SHOULD be insignificant — the flag doubles as an
    A/A sanity check on the split itself.)

    Scale shape: one grouped one-pass aggregate (count/avg/var_samp are
    algebraic and map-side combinable) into a 2-row join — nothing
    beyond the scan scales with data."""
    load_tables(spark, sf_dir)
    return spark.sql(_WELCH_SQL.format(
        bucket="CAST(conv(substring(md5(CAST(o.o_orderkey AS STRING)),"
               " 1, 4), 16, 10) AS INT) % 2",
        ma_out=R("ma", 2),
        mb_out=R("mb", 2),
        t_out=R("(ma - mb) / sqrt(se2)", 4),
        df_out=R("df", 2),
    ))


QUERIES["welch_ab_test"] = welch_ab_test
ORACLE["welch_ab_test"] = _WELCH_SQL.format(
    bucket="CAST(concat('0x', substr(md5(CAST(o.o_orderkey AS VARCHAR)),"
           " 1, 4)) AS INTEGER) % 2",
    ma_out=R("ma", 2),
    mb_out=R("mb", 2),
    t_out=R("(ma - mb) / sqrt(se2)", 4),
    df_out=R("df", 2),
)


_STL_DET_SQL = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, {dow} AS dow,
               CAST(floor(sum(o_totalprice) * 100 + 0.501e0) AS BIGINT)
                   AS cents
        FROM orders GROUP BY CAST(o_orderdate AS DATE), {dow}
    ),
    tr AS (
        -- bounded window: daily has one row per calendar day
        SELECT day, dow, cents,
               CAST(sum(cents) OVER w AS BIGINT) AS t7,
               count(*) OVER w AS wn
        FROM daily
        WINDOW w AS (PARTITION BY (hash(day) % 1) ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
        SELECT day, dow, cents, t7, 7 * cents - t7 AS det7
        FROM tr WHERE wn = 7
    )"""

_STL_TAIL_SQL = """
    seas AS (
        SELECT dow, CAST(sum(det7) AS BIGINT) AS s_sum,
               CAST(count(*) AS BIGINT) AS n
        FROM det GROUP BY dow
    )
    SELECT d.day,
           {rev} AS revenue,
           {trend} AS trend,
           {seasonal} AS seasonal,
           {resid} AS resid
    FROM det d JOIN seas s ON s.dow = d.dow
    ORDER BY d.day
"""


def stl_decomposition_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition of daily order revenue into trend +
    day-of-week seasonal + residual (Cleveland et al.'s STL reduced to
    one pass: trend = centered 7-day moving average over complete
    windows, seasonal = per-weekday mean of the detrended series,
    residual = the exact remainder — revenue == trend + seasonal + resid
    before output rounding). The anomaly detector's deseasonalized
    input, and the decomposition sibling of dow_seasonality_profile
    (which reports only the 7-row seasonal index).

    Determinism (the reason this is all integer arithmetic): a windowed
    avg over doubles hits float-sum merge-order ulps that can flip the
    output rounding grid. Instead daily revenue is quantized ONCE to
    BIGINT cents, the 7-day window is an exact integer sum, the
    detrended numerator 7*cents - t7 is exact, and the per-dow seasonal
    sum is an exact BIGINT — every output column is one integer-derived
    division, bit-equal across engines.

    Scale shape: one shrinking day-grain aggregate, one calendar-bounded
    window (the (hash%1) constant partition declares the single
    intentional partition — ~2.4k rows at any corpus size), one 7-row
    seasonal dimension joined back by dow. The detrended day series is
    materialized once (referenced by the seasonal agg AND the final
    join; inlined, Catalyst replays the orders scan + window per
    reference)."""
    load_tables(spark, sf_dir)
    materialize(spark.sql(
        _STL_DET_SQL.format(dow="CAST(dayofweek(o_orderdate) AS BIGINT)")
        + " SELECT * FROM det"
    )).createOrReplaceTempView("stl_det_v")
    return spark.sql(
        "WITH det AS (SELECT * FROM stl_det_v)," + _STL_TAIL_SQL.format(
            rev=R("d.cents / 100e0", 2),
            trend=R("d.t7 / 700e0", 4),
            seasonal=R("s.s_sum / (700e0 * s.n)", 4),
            resid=R("(d.det7 * s.n - s.s_sum) / (700e0 * s.n)", 4),
        )
    )


QUERIES["stl_decomposition_daily"] = stl_decomposition_daily
# DuckDB dayofweek is 0=Sunday; Spark is 1=Sunday — shift to match
ORACLE["stl_decomposition_daily"] = (
    _STL_DET_SQL.format(dow="CAST((dayofweek(o_orderdate) + 1) AS BIGINT)")
    + ",\n"
    + _STL_TAIL_SQL.format(
        rev=R("d.cents / 100e0", 2),
        trend=R("d.t7 / 700e0", 4),
        seasonal=R("s.s_sum / (700e0 * s.n)", 4),
        resid=R("(d.det7 * s.n - s.s_sum) / (700e0 * s.n)", 4),
    )
)


_KS_PER_VAL_SQL = """
    SELECT source, n_chars AS x, CAST(count(*) AS BIGINT) AS c
    FROM documents GROUP BY source, n_chars
"""

_KS_TAIL_SQL = """
    srcs AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n1
        FROM per_val GROUP BY source
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM per_val),
    allv AS (
        SELECT x, CAST(sum(c) AS BIGINT) AS ca FROM per_val GROUP BY x
    ),
    joined AS (
        SELECT s.source, v.x,
               coalesce(p.c, 0) AS a, v.ca - coalesce(p.c, 0) AS b
        FROM srcs s CROSS JOIN allv v
        LEFT JOIN per_val p ON p.source = s.source AND p.x = v.x
    ),
    cum AS (
        SELECT source, x,
               CAST(sum(a) OVER (PARTITION BY source ORDER BY x)
                   AS BIGINT) AS ca,
               CAST(sum(b) OVER (PARTITION BY source ORDER BY x)
                   AS BIGINT) AS cb
        FROM joined
    ),
    d AS (
        SELECT c.source, s.n1, t.n - s.n1 AS n2,
               CAST(max(abs(c.ca * (t.n - s.n1) - c.cb * s.n1))
                   AS BIGINT) AS dnum
        FROM cum c JOIN srcs s ON s.source = c.source CROSS JOIN tot t
        GROUP BY c.source, s.n1, t.n
    )
    SELECT source, CAST(n1 AS BIGINT) AS n_docs,
           {d_out} AS ks_d,
           {stat_out} AS ks_stat,
           CAST(dnum > 1.358e0 * sqrt((n1 + n2) * 1e0 * n1 * n2) AS INT)
               AS significant_05
    FROM d ORDER BY source
"""


def ks_divergence_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test of each source's document-length
    distribution against the rest of the corpus (one-vs-rest): the sup-norm
    ECDF distance D, the scaled statistic sqrt(n1*n2/(n1+n2))*D, and the
    alpha=0.05 rejection flag (critical c=1.358) — the distribution-drift
    detector a curation pipeline runs per ingest batch; chi-square
    (segment_status_chisq) sees only categorical bins, KS sees the whole
    shape.

    Determinism: D's argmax is computed on EXACT integers — the ECDF
    difference at grid value x is |A(x)*n2 - B(x)*n1| over cumulative
    BIGINT counts, so max() never compares engine-noised doubles; the
    reported D and statistic are single divisions of that integer.

    Scale shape: one doc-grain grouped count (materialized once — it
    feeds source totals, the value grid, and the ECDF join), then
    source x grid relations bounded by |sources| * |distinct lengths|;
    the cumulative window partitions by source over the bounded grid.
    Identical SQL text on both engines."""
    load_tables(spark, sf_dir)
    materialize(
        spark.sql(_KS_PER_VAL_SQL)
    ).createOrReplaceTempView("ks_per_val_v")
    return spark.sql(
        "WITH per_val AS (SELECT * FROM ks_per_val_v)," + _KS_TAIL_SQL.format(
            d_out=R("dnum / (n1 * 1e0 * n2)", 6),
            stat_out=R("dnum / (n1 * 1e0 * n2)"
                       " * sqrt(n1 * 1e0 * n2 / (n1 + n2))", 4),
        )
    )


QUERIES["ks_divergence_by_source"] = ks_divergence_by_source
ORACLE["ks_divergence_by_source"] = (
    "WITH per_val AS (" + _KS_PER_VAL_SQL + ")," + _KS_TAIL_SQL.format(
        d_out=R("dnum / (n1 * 1e0 * n2)", 6),
        stat_out=R("dnum / (n1 * 1e0 * n2)"
                   " * sqrt(n1 * 1e0 * n2 / (n1 + n2))", 4),
    )
)


# --- Simpson's-paradox audit ------------------------------------------------

_SIMPSON_SQL = """
    WITH j AS (
        SELECT c.c_mktsegment AS seg,
               CAST(o.o_totalprice AS DOUBLE) AS x,
               CAST(n.n_items AS DOUBLE) AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN (SELECT l_orderkey, count(*) AS n_items FROM lineitem
              GROUP BY l_orderkey) n ON n.l_orderkey = o.o_orderkey
    ),
    per_seg AS (
        SELECT seg, corr(x, y) AS r, count(*) AS n FROM j GROUP BY seg
    ),
    overall AS (SELECT corr(x, y) AS r_all FROM j)
    SELECT p.seg AS c_mktsegment,
           CAST(p.n AS BIGINT) AS n_orders,
           {r_seg} AS corr_segment,
           {r_all} AS corr_overall,
           CASE WHEN p.r * o.r_all < 0 THEN 1 ELSE 0 END AS sign_flip
    FROM per_seg p CROSS JOIN overall o
    ORDER BY c_mktsegment
"""


def simpsons_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen: the (order value, item count) correlation
    per market segment vs pooled — a sign flip between the two is the
    classic aggregation-reversal hazard every dashboard rollup should be
    audited for (Simpson, JRSS-B 1951; Pearl's causality framing).

    Scale shape: one fact-table pre-aggregation + one corr() pass; the
    per-segment and pooled states are both map-side combinable; the
    1-row pooled corr broadcasts onto the 5-row segment relation."""
    load_tables(spark, sf_dir)
    return spark.sql(_SIMPSON_SQL.format(
        r_seg=R("p.r", 6), r_all=R("o.r_all", 6)
    ))


QUERIES["simpsons_paradox_audit"] = simpsons_paradox_audit
ORACLE["simpsons_paradox_audit"] = _SIMPSON_SQL.format(
    r_seg=R("p.r", 6), r_all=R("o.r_all", 6)
)


# --- Neyman-allocation stratified sample -------------------------------------

NEYMAN_TOTAL = 200  # total sample budget across strata


def _neyman_sql(u32) -> str:
    """Neyman-optimal stratified allocation (Neyman, JRSS 1934): n_h
    proportional to N_h * S_h, then a deterministic md5-ranked draw of
    n_h orders per stratum. The sample mean per stratum is reported next
    to the stratum mean — the design's unbiasedness is testable."""
    return f"""
        WITH j AS (
            SELECT c.c_mktsegment AS seg, o.o_orderkey AS k,
                   CAST(o.o_totalprice AS DOUBLE) AS x
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        st AS (
            SELECT seg, count(*) AS nh, stddev_samp(x) AS sh,
                   avg(x) AS mu
            FROM j GROUP BY seg
        ),
        alloc AS (
            -- hash%1 constant partition: st is the |segments|-row stats
            -- relation (bounded); the declared partition keeps the
            -- unpartitioned-window warning gate clean
            SELECT seg, nh, sh, mu,
                   CAST(floor({NEYMAN_TOTAL} * (nh * sh)
                        / sum(nh * sh) OVER (
                            PARTITION BY (hash(seg) % 1)) + 0.5e0)
                        AS BIGINT) AS n_alloc
            FROM st
        ),
        ranked AS (
            SELECT j.seg, j.x,
                   CAST(row_number() OVER (
                       PARTITION BY j.seg
                       ORDER BY {u32}, j.k
                   ) AS BIGINT) AS rk
            FROM j
        ),
        drawn AS (
            SELECT r.seg, count(*) AS n_drawn, avg(r.x) AS sample_mu
            FROM ranked r JOIN alloc a ON a.seg = r.seg
            WHERE r.rk <= a.n_alloc
            GROUP BY r.seg
        )
        SELECT a.seg AS c_mktsegment,
               CAST(a.nh AS BIGINT) AS n_stratum,
               {R("a.sh")} AS stddev_stratum,
               a.n_alloc,
               CAST(d.n_drawn AS BIGINT) AS n_drawn,
               {R("a.mu")} AS stratum_mean,
               {R("d.sample_mu")} AS sample_mean
        FROM alloc a JOIN drawn d ON d.seg = a.seg
        ORDER BY c_mktsegment
    """


def neyman_allocation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with Neyman-optimal allocation by segment:
    variance-heavy strata get proportionally more of the fixed budget
    than size-proportional allocation would give them. The draw is the
    repo's standard deterministic md5 rank (reproducible across
    engines/partitionings/epochs).

    Scale shape: one stats pass (5-row allocation, broadcast), one
    md5-ranked window PARTITIONed BY stratum — per-stratum state only."""
    load_tables(spark, sf_dir)
    return spark.sql(_neyman_sql(
        "CAST(conv(substring(md5(CAST(j.k AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT)"
    ))


QUERIES["neyman_allocation_sample"] = neyman_allocation_sample
ORACLE["neyman_allocation_sample"] = _neyman_sql(
    "CAST(concat('0x', substr(md5(CAST(j.k AS VARCHAR)), 1, 8)) AS BIGINT)"
)


# --- autocorrelation function of daily revenue --------------------------------

ACF_MAX_LAG = 10

_ACF_LAGS = " UNION ALL ".join(
    f"SELECT {k} AS k" for k in range(1, ACF_MAX_LAG + 1)
)

_ACF_SQL = f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               {R("sum(o_totalprice)")} AS rev
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    s AS (
        -- bounded window: one row per calendar day
        SELECT CAST(row_number() OVER (PARTITION BY (hash(day) % 1)
                                       ORDER BY day) AS BIGINT) AS t, rev
        FROM d
    ),
    m AS (SELECT avg(rev) AS mu, count(*) AS n FROM s),
    den AS (
        SELECT sum((s.rev - m.mu) * (s.rev - m.mu)) AS ss, max(m.n) AS n
        FROM s CROSS JOIN m
    ),
    lags AS ({_ACF_LAGS}),
    num AS (
        SELECT l.k AS lag,
               sum((a.rev - m.mu) * (b.rev - m.mu)) AS sp,
               count(*) AS n_pairs
        FROM s a
        CROSS JOIN lags l
        JOIN s b ON b.t = a.t + l.k
        CROSS JOIN m
        GROUP BY l.k
    )
    SELECT CAST(n.lag AS INT) AS lag,
           CAST(n.n_pairs AS BIGINT) AS n_pairs,
           {R("n.sp / d.ss", 6)} AS acf,
           {R("1.96e0 / sqrt(d.n)", 6)} AS white_noise_band
    FROM num n CROSS JOIN den d
    ORDER BY lag
"""


def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function of the daily-revenue series at lags
    1..ACF_MAX_LAG (Box-Jenkins identification step: which AR/seasonal
    structure a forecaster should model), with the +-1.96/sqrt(n) white-
    noise band reported alongside. The denominator is the full-series
    sum of squares (the standard biased ACF estimator, so acf values are
    directly comparable across lags and bounded by 1).

    Scale shape: aggregate-first — everything after the one grouped
    orders pass runs on the calendar-bounded daily relation (one row per
    day); the lag joins are equi-joins on the day sequence index and the
    1-row mean/denominator relations broadcast."""
    load_tables(spark, sf_dir)
    return spark.sql(_ACF_SQL)


QUERIES["acf_daily_revenue"] = acf_daily_revenue
ORACLE["acf_daily_revenue"] = _ACF_SQL


# --- Spearman rank correlation (daily revenue vs order count) ----------------

_SPEARMAN_SQL = f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               {R("sum(o_totalprice)")} AS rev,
               count(*) AS n_orders
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    rk AS (
        -- bounded windows: one row per calendar day
        SELECT rank() OVER (PARTITION BY (hash(day) % 1) ORDER BY rev) * 1e0
                 + (count(*) OVER (PARTITION BY rev) - 1) / 2e0 AS rx,
               rank() OVER (PARTITION BY (hash(day) % 1)
                            ORDER BY n_orders) * 1e0
                 + (count(*) OVER (PARTITION BY n_orders) - 1) / 2e0 AS ry
        FROM d
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           {R("corr(rx, ry)", 6)} AS spearman_rho,
           {R("1e0 - 6e0 * sum((rx - ry) * (rx - ry))"
              " / (count(*) * (count(*) * 1e0 * count(*) - 1))", 6)}
               AS rho_d2_formula,
           CAST(count(*) - count(DISTINCT rx) AS BIGINT) AS n_ties_x,
           CAST(count(*) - count(DISTINCT ry) AS BIGINT) AS n_ties_y
    FROM rk
"""


def spearman_daily_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily revenue and daily order
    count: Pearson on mid-ranks (exact under ties — mid-rank = rank() +
    (tie_size - 1)/2) next to the classic 1 - 6*sum(d^2)/(n(n^2-1))
    shortcut, which assumes no ties; the gap between the two columns IS
    the tie effect. The robust complement to monthly_revenue_trend's
    parametric OLS.

    Scale shape: aggregate-first — ranks are windows over the
    calendar-bounded daily relation (one row per day), the same bounded
    grid every series operator in this module uses; never a row-scale
    global window."""
    load_tables(spark, sf_dir)
    return spark.sql(_SPEARMAN_SQL)


QUERIES["spearman_daily_rank_corr"] = spearman_daily_rank_corr
ORACLE["spearman_daily_rank_corr"] = _SPEARMAN_SQL


# --- Mann-Whitney U test over the doc-length grid ----------------------------

MW_SRC_A = "src0"
MW_SRC_B = "src1"

_MANN_WHITNEY_SQL = f"""
    WITH docs AS (
        SELECT n_chars AS v,
               CASE WHEN source = '{MW_SRC_A}' THEN 1 ELSE 0 END AS a
        FROM documents WHERE source IN ('{MW_SRC_A}', '{MW_SRC_B}')
    ),
    per_val AS (
        SELECT v,
               CAST(sum(a) AS BIGINT) AS ca,
               CAST(sum(1 - a) AS BIGINT) AS cb
        FROM docs GROUP BY v
    ),
    cum AS (
        -- bounded window: one row per rounded-score grid value
        SELECT v, ca, cb,
               CAST(coalesce(sum(cb) OVER (PARTITION BY (hash(v) % 1)
                   ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cb_less
        FROM per_val
    ),
    tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(cb) AS BIGINT) AS nb,
               CAST(sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
                   AS BIGINT) AS tie3
        FROM per_val
    ),
    u AS (
        SELECT CAST(sum(ca * (2 * cb_less + cb)) AS BIGINT) AS u2 FROM cum
    )
    SELECT t.na AS n_{MW_SRC_A}, t.nb AS n_{MW_SRC_B},
           {R("u.u2 / 2e0")} AS u_statistic,
           {R("t.na * t.nb / 2e0")} AS u_mean,
           {R("sqrt(t.na * 1e0 * t.nb / 12e0"
              " * ((t.na + t.nb + 1)"
              "    - t.tie3 * 1e0 / ((t.na + t.nb)"
              "      * (t.na + t.nb - 1e0))))", 4)} AS u_sigma,
           {R("(u.u2 - t.na * 1e0 * t.nb)"
              " / (2e0 * sqrt(t.na * 1e0 * t.nb / 12e0"
              " * ((t.na + t.nb + 1)"
              "    - t.tie3 * 1e0 / ((t.na + t.nb)"
              "      * (t.na + t.nb - 1e0)))))", 4)} AS z_score
    FROM u CROSS JOIN tot t
"""


def mann_whitney_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (Mann & Whitney, AMS 1947) comparing
    document lengths between two sources, computed WITHOUT per-row ranks:
    2U = sum over the distinct-length grid of ca*(2*cb_less + cb) — an
    exact BIGINT (ties contribute halves, hence the doubling), and the
    normal approximation uses the standard tie-corrected variance
    nA*nB/12 * ((n+1) - sum(t^3 - t)/(n(n-1))). The nonparametric
    location test to pair with ks_divergence_by_source's shape test.

    Scale shape: one grouped pass collapses rows to the bounded
    distinct-length grid (same grid as the KS operator); the cumulative
    window orders that grid, not rows; the 1-row U/total relations
    broadcast. No per-row rank is ever materialized."""
    load_tables(spark, sf_dir)
    return spark.sql(_MANN_WHITNEY_SQL)


QUERIES["mann_whitney_doc_lengths"] = mann_whitney_doc_lengths
ORACLE["mann_whitney_doc_lengths"] = _MANN_WHITNEY_SQL


# --- Holt-Winters additive seasonal forecast ----------------------------------

HW_ALPHA = "0.3e0"   # level smoothing
HW_1MA = "0.7e0"
HW_BETA = "0.1e0"    # trend smoothing
HW_1MB = "0.9e0"
HW_GAMMA = "0.3e0"   # seasonal smoothing
HW_1MG = "0.7e0"
HW_P = 7             # weekly season

_HW_DAILY_SQL = f"""
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               {R("sum(o_totalprice)")} AS rev
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    series AS (
        -- bounded window: one row per calendar day
        SELECT rev, CAST(row_number() OVER (PARTITION BY (hash(day) % 1)
                                            ORDER BY day) AS BIGINT) AS rn
        FROM daily
    )
"""

# state layout (1-based positions): 1=level, 2=trend, 3..3+P-1 = seasonal
# ring s_0..s_{P-1} with s_0 = the index applying to the NEXT observation;
# each step consumes s_0, rotates the ring, and appends the updated index.
_HW_HORIZONS = " UNION ALL ".join(
    f"SELECT {h} AS h" for h in range(1, HW_P + 1)
)


def _hw_spark_fold() -> str:
    lvl = f"{HW_ALPHA} * (y - acc[2]) + {HW_1MA} * (acc[0] + acc[1])"
    return f"""
        aggregate(
            transform(slice(a, {HW_P + 1}, size(a) - {HW_P}),
                      y -> CAST(y AS DOUBLE)),
            concat(array(l0, CAST(0 AS DOUBLE)),
                   transform(slice(a, 1, {HW_P}),
                             y -> CAST(y AS DOUBLE) - l0)),
            (acc, y) -> concat(
                array({lvl},
                      {HW_BETA} * (({lvl}) - acc[0]) + {HW_1MB} * acc[1]),
                slice(acc, 4, {HW_P - 1}),
                array({HW_GAMMA} * (y - ({lvl})) + {HW_1MG} * acc[2]))
        )
    """


def _hw_duck_fold() -> str:
    lvl = f"{HW_ALPHA} * (x[1] - acc[3]) + {HW_1MA} * (acc[1] + acc[2])"
    return f"""
        list_reduce(
            list_prepend(
                list_concat([l0, CAST(0 AS DOUBLE)],
                            list_transform(a[1:{HW_P}],
                                           y -> CAST(y AS DOUBLE) - l0)),
                list_transform(a[{HW_P + 1}:], y -> [CAST(y AS DOUBLE)])),
            (acc, x) -> list_concat(
                list_concat(
                    [{lvl},
                     {HW_BETA} * (({lvl}) - acc[1]) + {HW_1MB} * acc[2]],
                    acc[4:{HW_P + 2}]),
                [{HW_GAMMA} * (x[1] - ({lvl})) + {HW_1MG} * acc[3]])
        )
    """


def _hw_tail(state_at) -> str:
    """Forecast rows given an `st(state)` relation: for horizon h,
    yhat = level + h * trend + seasonal index h-1 ahead."""
    return f"""
        horizons AS ({_HW_HORIZONS})
        SELECT CAST(h.h AS INT) AS horizon_days,
               {R(state_at("1"))} AS level,
               {R(state_at("2"), 4)} AS trend,
               {R(state_at("CAST(h.h AS INT) + 2"))} AS seasonal,
               {R(f"({state_at('1')}) + h.h * ({state_at('2')})"
                  f" + ({state_at('CAST(h.h AS INT) + 2')})")}
                   AS forecast
        FROM st CROSS JOIN horizons h
        ORDER BY horizon_days
    """


def holt_winters_weekly_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holt-Winters additive triple smoothing (alpha=0.3, beta=0.1,
    gamma=0.3, weekly period) over the full daily-revenue series, with a
    7-day-ahead forecast: the seasonal completion of
    holt_linear_daily_revenue (Winters, Mgmt. Sci. 1960). State is a
    (2 + 7)-element DOUBLE array folded over the series — level, trend,
    and the rotating weekly seasonal ring; seeds are the classic
    l0 = mean(first week), b0 = 0, s_i = y_i - l0. Daily inputs are
    canon-rounded first so both engines fold bit-identical doubles in
    the same order.

    Scale shape: aggregate-first — the fold input is the calendar-bounded
    daily series assembled by one ordered array_agg; fold state is 9
    doubles. The output is exactly HW_P forecast rows."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
        WITH {_HW_DAILY_SQL},
        arr AS (
            SELECT transform(array_sort(collect_list(struct(rn, rev))),
                             x -> CAST(x.rev AS DOUBLE)) AS a
            FROM series
        ),
        ini AS (
            SELECT a,
                   aggregate(slice(a, 1, {HW_P}), CAST(0 AS DOUBLE),
                             (acc, x) -> acc + x) / {HW_P}e0 AS l0
            FROM arr
        ),
        st AS (SELECT {_hw_spark_fold()} AS state FROM ini),
        {_hw_tail(lambda i: f"element_at(st.state, {i})")}
    """)


QUERIES["holt_winters_weekly_forecast"] = holt_winters_weekly_forecast
ORACLE["holt_winters_weekly_forecast"] = f"""
    WITH {_HW_DAILY_SQL},
    arr AS (
        SELECT list_transform(list(rev ORDER BY rn),
                              x -> CAST(x AS DOUBLE)) AS a
        FROM series
    ),
    ini AS (
        SELECT a,
               list_aggregate(a[1:{HW_P}], 'sum') / {HW_P}e0 AS l0
        FROM arr
    ),
    st AS (SELECT {_hw_duck_fold()} AS state FROM ini),
    {_hw_tail(lambda i: f"st.state[{i}]")}
"""


# --- Population Stability Index (distribution drift) --------------------------

PSI_SPLIT = "1999-01-01"  # reference = orders before, current = after
PSI_BUCKETS = 10
PSI_EPS = "1e-6"  # Laplace floor so empty buckets cannot produce ln(0)

def _psi_sql(qarr: str, idx) -> str:
    """qarr = the ONE array-percentile call (9 cutpoints from a single
    buffered pass — round 8 rewrite of 9 separate percentile() aggregates,
    each of which kept its own full copy of the reference column);
    idx(i) = the dialect's array indexing of the cutpoint array."""
    return f"""
    WITH ref AS (
        SELECT o_totalprice AS x FROM orders
        WHERE o_orderdate < TIMESTAMP '{PSI_SPLIT} 00:00:00'
    ),
    cur AS (
        SELECT o_totalprice AS x FROM orders
        WHERE o_orderdate >= TIMESTAMP '{PSI_SPLIT} 00:00:00'
    ),
    cuts AS (
        SELECT {qarr} AS cs, count(*) AS nref FROM ref
    ),
    nc AS (SELECT count(*) AS ncur FROM cur),
    bucketed AS (
        SELECT b.side, b.bucket, count(*) AS n FROM (
            SELECT side,
                   CASE {" ".join(
                       f"WHEN x <= {idx(i)} THEN {i - 1}" for i in range(1, 10)
                   )} ELSE 9 END AS bucket
            FROM (
                SELECT 0 AS side, x FROM ref
                UNION ALL
                SELECT 1 AS side, x FROM cur
            ) s CROSS JOIN cuts c
        ) b GROUP BY b.side, b.bucket
    ),
    grid AS (
        SELECT t.bucket,
               coalesce(r.n, 0) * 1e0 / c.nref + {PSI_EPS} AS p,
               coalesce(u.n, 0) * 1e0 / n.ncur + {PSI_EPS} AS q
        FROM (SELECT DISTINCT bucket FROM bucketed) t
        CROSS JOIN cuts c CROSS JOIN nc n
        LEFT JOIN bucketed r ON r.bucket = t.bucket AND r.side = 0
        LEFT JOIN bucketed u ON u.bucket = t.bucket AND u.side = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           {R("sum((q - p) * ln(q / p))", 6)} AS psi,
           {R("max(abs(q - p))", 6)} AS max_bucket_shift,
           -- band on the ROUNDED psi so a merge-order ulp at the 0.1/0.2
           -- boundary cannot split the engines
           CASE WHEN {R("sum((q - p) * ln(q / p))", 6)} > 0.2e0 THEN 1
                WHEN {R("sum((q - p) * ln(q / p))", 6)} > 0.1e0 THEN 2
                ELSE 0 END AS drift_band
    FROM grid
"""


def psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-price distribution between
    the pre-{PSI_SPLIT} reference period and everything after — the
    standard ML-monitoring drift score (credit-scoring practice; see e.g.
    Siddiqi, "Credit Risk Scorecards", 2006 §Monitoring): decile buckets
    from the REFERENCE distribution, PSI = sum (q-p) ln(q/p), with the
    usual rule-of-thumb bands (>0.2 action=1, >0.1 watch=2, else 0 —
    band evaluated on the raw sum, one shared float expression in both
    engines). The population-level companion to ks_divergence_by_source
    (shape test) and embedding_centroid_drift (representation drift).

    Scale shape: one exact-percentile pass over the reference (1-row
    broadcast cutpoint relation — the equidepth_price_buckets shape),
    one CASE-ladder bucketing scan over both periods, then a 10-row
    rollup. The epsilon floor keeps empty buckets finite (the standard
    PSI Laplace fix)."""
    load_tables(spark, sf_dir)
    qs = ", ".join(f"{i / 10}e0" for i in range(1, 10))
    return spark.sql(_psi_sql(
        f"percentile(x, array({qs}))",
        lambda i: f"element_at(c.cs, {i})",
    ))


QUERIES["psi_price_drift"] = psi_price_drift
ORACLE["psi_price_drift"] = _psi_sql(
    "quantile_cont(x, [" + ", ".join(
        f"{i / 10}e0" for i in range(1, 10)
    ) + "])",
    lambda i: f"c.cs[{i}]",
)


# --- parallel moments merge (Chan's formula) ---------------------------------

MOMENTS_SHARDS = 8

_MOMENTS_SHARD_SQL = """
    shards AS (
        SELECT {bucket} AS shard, o_totalprice AS x FROM orders
    ),
    per_shard AS (
        SELECT shard, CAST(count(*) AS DOUBLE) AS n,
               sum(x) AS sx, sum(x * x) AS sxx
        FROM shards GROUP BY shard
    ),
    stats AS (
        SELECT shard, n, sx / n AS mean, sxx - sx * sx / n AS m2
        FROM per_shard
    ),
    direct AS (
        SELECT CAST(count(*) AS BIGINT) AS n, avg(x) AS mean,
               sum(x * x) - sum(x) * sum(x) / count(*) AS m2
        FROM shards
    )
"""

_MOMENTS_TAIL = """
    SELECT CAST({m}[{i1}] AS BIGINT) AS merged_n,
           d.n AS direct_n,
           {mean_m} AS merged_mean,
           {mean_d} AS direct_mean,
           {sd_m} AS merged_sd,
           {sd_d} AS direct_sd,
           {diff} AS max_abs_diff
    FROM merged CROSS JOIN direct d
"""


def parallel_moments_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chan's parallel variance merge (Chan, Golub, LeVeque, Am. Stat.
    1983): per-shard (n, mean, M2) states folded pairwise with
    mean' = meanA + delta*nB/n and M2' = M2A + M2B + delta^2*nA*nB/n,
    reported NEXT TO the direct single-pass global moments — the
    identity that makes every distributed stddev/variance in this repo
    legal, here made visible (and asserted: max_abs_diff rounds to 0).
    Shards come from the deterministic md5 bucket, so both engines merge
    identical partials in identical shard order.

    Scale shape: one grouped pass computes all shard partials (this IS
    the map-side-combine shape); the fold runs over MOMENTS_SHARDS rows
    of 3-double state. The 'direct' arm is the same single scan."""
    load_tables(spark, sf_dir)
    bucket = (
        "CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 4), 16, 10)"
        f" AS INT) % {MOMENTS_SHARDS}"
    )
    shard_ctes = _MOMENTS_SHARD_SQL.format(bucket=bucket)
    merged = """
    arr AS (
        SELECT transform(array_sort(collect_list(struct(shard, n, mean, m2))),
                         e -> array(e.n, e.mean, e.m2)) AS a
        FROM stats
    ),
    merged AS (
        SELECT aggregate(a,
            array(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)),
            (acc, s) -> array(
                acc[0] + s[0],
                acc[1] + (s[1] - acc[1]) * s[0] / (acc[0] + s[0]),
                acc[2] + s[2] + (s[1] - acc[1]) * (s[1] - acc[1])
                    * acc[0] * s[0] / (acc[0] + s[0]))) AS st
        FROM arr
    )
    """
    tail = _MOMENTS_TAIL.format(
        m="m.st", i1="0",
        mean_m=R("m.st[1]"), mean_d=R("d.mean"),
        sd_m=R("sqrt(m.st[2] / (m.st[0] - 1))", 4),
        sd_d=R("sqrt(d.m2 / (d.n - 1))", 4),
        diff=R("greatest(abs(m.st[1] - d.mean),"
               " abs(sqrt(m.st[2] / (m.st[0] - 1))"
               " - sqrt(d.m2 / (d.n - 1))))", 6),
    ).replace("{m}[{i1}]", "m.st[0]")
    return spark.sql(
        "WITH " + shard_ctes + "," + merged + tail.replace(
            "FROM merged CROSS JOIN direct d",
            "FROM merged m CROSS JOIN direct d",
        )
    )


_DUCK_MOMENTS_MERGED = """
    arr AS (
        SELECT list_transform(
                   list([n, mean, m2] ORDER BY shard), s -> s) AS a
        FROM stats
    ),
    merged AS (
        SELECT list_reduce(
            list_prepend([CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                          CAST(0 AS DOUBLE)], a),
            (acc, s) -> [
                acc[1] + s[1],
                acc[2] + (s[2] - acc[2]) * s[1] / (acc[1] + s[1]),
                acc[3] + s[3] + (s[2] - acc[2]) * (s[2] - acc[2])
                    * acc[1] * s[1] / (acc[1] + s[1])]) AS st
        FROM arr
    )
"""

QUERIES["parallel_moments_merge"] = parallel_moments_merge
ORACLE["parallel_moments_merge"] = (
    "WITH "
    + _MOMENTS_SHARD_SQL.format(
        bucket="CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),"
               f" 1, 4)) AS INTEGER) % {MOMENTS_SHARDS}"
    )
    + ","
    + _DUCK_MOMENTS_MERGED
    + _MOMENTS_TAIL.format(
        m="m.st", i1="1",
        mean_m=R("m.st[2]"), mean_d=R("d.mean"),
        sd_m=R("sqrt(m.st[3] / (m.st[1] - 1))", 4),
        sd_d=R("sqrt(d.m2 / (d.n - 1))", 4),
        diff=R("greatest(abs(m.st[2] - d.mean),"
               " abs(sqrt(m.st[3] / (m.st[1] - 1))"
               " - sqrt(d.m2 / (d.n - 1))))", 6),
    ).replace("{m}[{i1}]", "m.st[1]").replace(
        "FROM merged CROSS JOIN direct d", "FROM merged m CROSS JOIN direct d"
    )
)


# --- revenue bridge (price/volume/mix decomposition) -------------------------

BRIDGE_SPLIT = "1999-01-01"

_BRIDGE_SQL = f"""
    WITH per AS (
        SELECT c.c_mktsegment AS seg,
               CASE WHEN o.o_orderdate < TIMESTAMP '{BRIDGE_SPLIT} 00:00:00'
                    THEN 0 ELSE 1 END AS period,
               CAST(count(*) AS DOUBLE) AS vol,
               sum(o.o_totalprice) AS rev,
               avg(o.o_totalprice) AS aov
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment,
                 CASE WHEN o.o_orderdate < TIMESTAMP '{BRIDGE_SPLIT} 00:00:00'
                      THEN 0 ELSE 1 END
    ),
    j AS (
        SELECT a.seg,
               a.vol AS vol0, b.vol AS vol1,
               a.aov AS aov0, b.aov AS aov1,
               a.rev AS rev0, b.rev AS rev1
        FROM per a JOIN per b ON b.seg = a.seg
        WHERE a.period = 0 AND b.period = 1
    )
    SELECT seg AS c_mktsegment,
           CAST(vol0 AS BIGINT) AS n_orders_before,
           CAST(vol1 AS BIGINT) AS n_orders_after,
           {R("rev1 - rev0")} AS revenue_change,
           {R("(vol1 - vol0) * aov0")} AS volume_effect,
           {R("(aov1 - aov0) * vol0")} AS price_effect,
           {R("(vol1 - vol0) * (aov1 - aov0)")} AS interaction_effect,
           {R("(rev1 - rev0) - ((vol1 - vol0) * aov0"
              " + (aov1 - aov0) * vol0"
              " + (vol1 - vol0) * (aov1 - aov0))", 4)} AS residual
    FROM j ORDER BY c_mktsegment
"""


def revenue_bridge_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period revenue bridge per market segment — the FP&A
    waterfall decomposition: delta revenue = volume effect (order-count
    change at old AOV) + price effect (AOV change at old volume) +
    interaction, with the residual column PROVING the decomposition is
    exact (rev = vol * aov algebraically, so the three effects must
    re-sum to the delta; residual rounds to 0 and the test asserts it).

    Scale shape: one joined grouped pass builds both periods' per-
    segment partials (map-side combinable); the bridge itself is a
    5-row self-join projection."""
    load_tables(spark, sf_dir)
    return spark.sql(_BRIDGE_SQL)


QUERIES["revenue_bridge_by_segment"] = revenue_bridge_by_segment
ORACLE["revenue_bridge_by_segment"] = _BRIDGE_SQL


# --- exact weighted median (two-pass bucketed) --------------------------------
WMED_BUCKETS = 1024


def _wmedian_sql(pw_src: str, mat: str = "") -> str:
    """Exact quantity-weighted median of extended price per return flag:
    the LOWER weighted median — the smallest price p whose cumulative
    weight reaches half the total. Two-pass distributed shape (the
    classic histogram-then-refine quantile algorithm, cf. Greenwald &
    Khanna's motivation — here exact because pass 2 reads the one bucket
    containing the cut): pass 1 aggregates weight into {WMED_BUCKETS}
    equi-width price buckets (map-combinable; the running sum crosses a
    <= {WMED_BUCKETS}-row relation per flag, never the corpus); pass 2
    re-reads ONLY the cut bucket's price grid. All weights are integral
    quantities, so every cumulative sum is exact in doubles and the
    tw/2 comparison cannot flake on merge order."""
    return f"""
        WITH pw AS {mat}(
            {pw_src}
        ),
        b AS (
            SELECT f, min(p) AS lo, max(p) AS hi, sum(w) AS tw
            FROM pw GROUP BY f
        ),
        wb AS (
            SELECT pw.f,
                   least(CAST(floor((pw.p - b.lo) * {WMED_BUCKETS}e0
                                    / (b.hi - b.lo)) AS INT),
                         {WMED_BUCKETS} - 1) AS bk,
                   sum(pw.w) AS w
            FROM pw JOIN b ON pw.f = b.f
            GROUP BY pw.f,
                     least(CAST(floor((pw.p - b.lo) * {WMED_BUCKETS}e0
                                      / (b.hi - b.lo)) AS INT),
                           {WMED_BUCKETS} - 1)
        ),
        cum AS (
            SELECT wb.f, wb.bk, wb.w,
                   sum(wb.w) OVER (PARTITION BY wb.f ORDER BY wb.bk) AS cw
            FROM wb
        ),
        cut AS (
            SELECT c.f, min(c.bk) AS bk
            FROM cum c JOIN b ON b.f = c.f
            WHERE c.cw >= b.tw / 2e0
            GROUP BY c.f
        ),
        pre AS (
            SELECT cum.f, cum.bk, cum.cw - cum.w AS cw0
            FROM cum JOIN cut ON cum.f = cut.f AND cum.bk = cut.bk
        ),
        fin AS (
            SELECT pw.f, pw.p,
                   pre.cw0 + sum(pw.w) OVER (PARTITION BY pw.f
                                             ORDER BY pw.p) AS cw
            FROM pw
            JOIN b ON pw.f = b.f
            JOIN pre ON pre.f = pw.f
            WHERE least(CAST(floor((pw.p - b.lo) * {WMED_BUCKETS}e0
                                   / (b.hi - b.lo)) AS INT),
                        {WMED_BUCKETS} - 1) = pre.bk
        )
        SELECT s.f AS l_returnflag,
               {R("b.tw", 2)} AS total_weight,
               {R("s.wmedian", 2)} AS weighted_median_price
        FROM (
            SELECT fin.f, min(fin.p) AS wmedian
            FROM fin JOIN b ON b.f = fin.f
            WHERE fin.cw >= b.tw / 2e0
            GROUP BY fin.f
        ) s JOIN b ON b.f = s.f
        ORDER BY s.f
    """


_WMED_PW = ("SELECT l_returnflag AS f, l_extendedprice AS p, "
            "sum(l_quantity) AS w FROM lineitem "
            "GROUP BY l_returnflag, l_extendedprice")


def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median extended price per return flag (see
    _wmedian_sql) — the weighted-quantile operator warehouses lack
    (percentile/median ignore weights), built as the two-pass
    histogram-refine shape that never sorts the corpus or drags a flag's
    whole partition through one window.

    Scale shape: the price-grid pre-aggregate is materialized once (it
    feeds the bounds row, the bucket histogram and the in-bucket refine —
    inlining would re-run the corpus groupBy 3x); windows run over
    <= {WMED_BUCKETS} buckets or one bucket's grid per flag."""
    load_tables(spark, sf_dir)
    materialize(spark.sql(_WMED_PW)).createOrReplaceTempView("wmed_pw_v")
    return spark.sql(_wmedian_sql("SELECT * FROM wmed_pw_v"))


QUERIES["weighted_median_price"] = weighted_median_price
ORACLE["weighted_median_price"] = _wmedian_sql(_WMED_PW, mat="MATERIALIZED ")


# --- difference-in-differences --------------------------------------------------
DID_SPLIT = "1996-01-01"
DID_TREATED = "BUILDING"

_DID_SQL = f"""
        WITH cells AS (
            SELECT CASE WHEN c.c_mktsegment = '{DID_TREATED}'
                        THEN 1 ELSE 0 END AS treated,
                   CASE WHEN o.o_orderdate >= TIMESTAMP '{DID_SPLIT} 00:00:00'
                        THEN 1 ELSE 0 END AS post,
                   o.o_totalprice AS y
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        m AS (
            SELECT treated, post, count(*) AS n,
                   avg(y) AS mu, var_samp(y) AS v
            FROM cells GROUP BY treated, post
        ),
        w AS (
            SELECT max(CASE WHEN treated = 1 AND post = 0 THEN mu END) AS t0,
                   max(CASE WHEN treated = 1 AND post = 1 THEN mu END) AS t1,
                   max(CASE WHEN treated = 0 AND post = 0 THEN mu END) AS c0,
                   max(CASE WHEN treated = 0 AND post = 1 THEN mu END) AS c1,
                   sum(n) AS n_all,
                   sum(v * (n - 1)) AS ss_pooled,
                   sum(1e0 / n) AS inv_n
            FROM m
        )
        SELECT CAST(n_all AS BIGINT) AS n_orders,
               {R("t0", 2)} AS treated_pre_mean,
               {R("t1", 2)} AS treated_post_mean,
               {R("c0", 2)} AS control_pre_mean,
               {R("c1", 2)} AS control_post_mean,
               {R("(t1 - t0) - (c1 - c0)", 4)} AS did_estimate,
               {R("sqrt(ss_pooled / (n_all - 4) * inv_n)", 4)} AS did_se,
               CASE WHEN abs((t1 - t0) - (c1 - c0))
                        > 1.96e0 * sqrt(ss_pooled / (n_all - 4) * inv_n)
                    THEN 1 ELSE 0 END AS significant_95
        FROM w
"""


def diff_in_diff_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-by-two difference-in-differences on mean order value (Card &
    Krueger AER 1994 design): treated = {DID_TREATED}-segment customers,
    pre/post split at {DID_SPLIT}; DiD = (T_post - T_pre) -
    (C_post - C_pre) with the pooled-variance standard error
    sp * sqrt(sum 1/n_cell) and a 1.96-sigma significance flag (evaluated
    on the raw expressions, one shared parse tree in both engines, so an
    ulp cannot flip the flag asymmetrically). The causal-inference
    companion to welch_ab_test (which compares two groups at one time).

    Scale shape: one fact-dim hash join, one 4-group map-combinable agg,
    then a 1-row pivot — nothing downstream of the 4-row cell relation
    touches the corpus."""
    load_tables(spark, sf_dir)
    return spark.sql(_DID_SQL)


QUERIES["diff_in_diff_revenue"] = diff_in_diff_revenue
ORACLE["diff_in_diff_revenue"] = _DID_SQL


# --- count-data overdispersion ---------------------------------------------------

_OVERDISP_SQL = f"""
        WITH per_user AS (
            SELECT event_type, user_id, count(*) AS n
            FROM events GROUP BY event_type, user_id
        ),
        m AS (
            SELECT event_type,
                   count(*) AS n_users,
                   avg(n * 1e0) AS mu,
                   var_samp(n * 1e0) AS v
            FROM per_user GROUP BY event_type
        )
        SELECT event_type,
               CAST(n_users AS BIGINT) AS n_users,
               {R("mu", 4)} AS mean_events,
               {R("v", 4)} AS var_events,
               {R("v / mu", 4)} AS dispersion_index,
               CASE WHEN v > mu
                    THEN {R("mu * mu / (v - mu)", 4)} END AS nb_r_moments,
               CASE WHEN abs(v / mu - 1e0)
                             <= 3e0 * sqrt(2e0 / (n_users - 1))
                    THEN 1 ELSE 0 END AS poisson_plausible
        FROM m ORDER BY event_type
"""


def overdispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-data dispersion diagnostics per event type: the
    variance-to-mean ratio of per-user event counts (Fisher's dispersion
    index; = 1 under Poisson), the method-of-moments negative-binomial
    size r = mu^2/(v - mu) when overdispersed (Anscombe, Biometrika 1950),
    and a Poisson-plausibility flag from the index's asymptotic
    sqrt(2/(n-1)) standard error. The modeling pre-check before fitting
    rate models to activity counts — overdispersed counts (bursty users)
    need NB, not Poisson, and the same number prices how badly a
    uniform-rate skew assumption would misplan partitions.

    Scale shape: two map-combinable grouped aggregates (user counts, then
    5-type moments) — nothing else."""
    load_tables(spark, sf_dir)
    return spark.sql(_OVERDISP_SQL)


QUERIES["overdispersion_index"] = overdispersion_index
ORACLE["overdispersion_index"] = _OVERDISP_SQL


# --- cross-correlation function ---------------------------------------------------
CCF_MAX_LAG = 7

_CCF_LAGS = " UNION ALL ".join(
    f"SELECT {k} AS k" for k in range(-CCF_MAX_LAG, CCF_MAX_LAG + 1)
)

_CCF_SQL = f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               {R("sum(o_totalprice)")} AS rev,
               count(*) AS n_orders
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    s AS (
        -- bounded window: one row per calendar day
        SELECT CAST(row_number() OVER (PARTITION BY (hash(day) % 1)
                                       ORDER BY day) AS BIGINT) AS t,
               rev, n_orders * 1e0 AS cnt
        FROM d
    ),
    m AS (
        SELECT avg(rev) AS mu_x, avg(cnt) AS mu_y, count(*) AS n
        FROM s
    ),
    den AS (
        SELECT sqrt(sum((s.rev - m.mu_x) * (s.rev - m.mu_x))
                    * sum((s.cnt - m.mu_y) * (s.cnt - m.mu_y))) AS sxy,
               max(m.n) AS n
        FROM s CROSS JOIN m
    ),
    lags AS ({_CCF_LAGS}),
    num AS (
        SELECT l.k AS lag,
               sum((a.rev - m.mu_x) * (b.cnt - m.mu_y)) AS sp,
               count(*) AS n_pairs
        FROM s a
        CROSS JOIN lags l
        JOIN s b ON b.t = a.t + l.k
        CROSS JOIN m
        GROUP BY l.k
    )
    SELECT CAST(n.lag AS INT) AS lag,
           CAST(n.n_pairs AS BIGINT) AS n_pairs,
           {R("n.sp / d.sxy", 6)} AS ccf,
           {R("1.96e0 / sqrt(d.n)", 6)} AS white_noise_band
    FROM num n CROSS JOIN den d
    ORDER BY lag
"""


def ccf_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample cross-correlation between daily revenue and daily order
    count at lags -{CCF_MAX_LAG}..{CCF_MAX_LAG} (Box-Jenkins §11 transfer-
    function identification: positive-lag peaks mean order count LEADS
    revenue). ccf(k) = sum (x_t - mu_x)(y_{{t+k}} - mu_y) over the
    geometric mean of the two full-series sums of squares — the standard
    biased estimator, symmetric counterpart of acf_daily_revenue and
    bounded by |1|; the same +-1.96/sqrt(n) band applies under the
    no-cross-correlation null.

    Scale shape: aggregate-first like the ACF — one grouped pass over
    orders, then lag equi-joins on the calendar-bounded day index with
    1-row broadcast moments."""
    load_tables(spark, sf_dir)
    return spark.sql(_CCF_SQL)


QUERIES["ccf_revenue_orders"] = ccf_revenue_orders
ORACLE["ccf_revenue_orders"] = _CCF_SQL


# --- percentile roll-up fallacy ---------------------------------------------------

_PCTL_ROLLUP_SQL_T = """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   {p95_day} AS p95_day,
                   count(*) AS n
            FROM events GROUP BY CAST(ts AS DATE)
        ),
        truth AS (SELECT {p95_all} AS p95_true FROM events)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
               {p95_true_r} AS p95_true,
               {avg_daily_r} AS avg_daily_p95,
               {wavg_daily_r} AS weighted_avg_daily_p95,
               {gap_r} AS rollup_gap_pct
        FROM daily CROSS JOIN truth
        GROUP BY truth.p95_true
"""


def _pctl_rollup_sql(pctl: str) -> str:
    """Why you cannot average percentiles: the true corpus p95 of event
    value vs the (naive) mean of daily p95s and the row-weighted mean —
    both are biased whenever daily distributions differ (percentiles
    don't compose; only sketches like KLL merge — see
    kll_quantile_check / hll_time_rollup_check for the mergeable way).
    The gap column quantifies the fallacy on this corpus."""
    return _PCTL_ROLLUP_SQL_T.format(
        p95_day=f"{pctl}(value, 0.95e0)",
        p95_all=f"{pctl}(value, 0.95e0)",
        p95_true_r=R("max(truth.p95_true)", 4),
        avg_daily_r=R("avg(p95_day)", 4),
        wavg_daily_r=R("sum(p95_day * n) / sum(n)", 4),
        gap_r=R("abs(avg(p95_day) - max(truth.p95_true)) * 1e2"
                " / max(truth.p95_true)", 4),
    )


def percentile_rollup_fallacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured percentile-composition error (see _pctl_rollup_sql) — the
    data-quality demo that justifies keeping mergeable sketches
    (KLL/HLL) in materialized rollups instead of finalized percentiles.

    Scale shape: one day-grain grouped percentile pass, one global
    percentile, one 1-row fold."""
    load_tables(spark, sf_dir)
    return spark.sql(_pctl_rollup_sql("percentile"))


QUERIES["percentile_rollup_fallacy"] = percentile_rollup_fallacy
ORACLE["percentile_rollup_fallacy"] = _pctl_rollup_sql("quantile_cont")


# --- two-proportion z-test ------------------------------------------------------
#
# Classic A/B proportion comparison (each segment vs the rest of the
# population): z = (p1 - p2) / sqrt(p*(1-p)*(1/n1 + 1/n2)) with the pooled
# rate p. "Success" = the order is URGENT-priority — the running example of
# a conversion flag on this fixture.

_ZTEST_SQL = f"""
    WITH seg AS (
        SELECT c.c_mktsegment AS segment,
               count(*) AS n,
               sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                        THEN 1 ELSE 0 END) AS k
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    ),
    tot AS (SELECT sum(n) AS n_all, sum(k) AS k_all FROM seg)
    SELECT s.segment,
           CAST(s.n AS BIGINT) AS n_seg,
           CAST(t.n_all - s.n AS BIGINT) AS n_rest,
           {R("s.k * 1e0 / s.n", 6)} AS p_seg,
           {R("(t.k_all - s.k) * 1e0 / (t.n_all - s.n)", 6)} AS p_rest,
           {R('''(s.k * 1e0 / s.n - (t.k_all - s.k) * 1e0 / (t.n_all - s.n))
               / sqrt((t.k_all * 1e0 / t.n_all)
                      * (1e0 - t.k_all * 1e0 / t.n_all)
                      * (1e0 / s.n + 1e0 / (t.n_all - s.n)))''', 4)} AS z,
           CASE WHEN abs(
               (s.k * 1e0 / s.n - (t.k_all - s.k) * 1e0 / (t.n_all - s.n))
               / sqrt((t.k_all * 1e0 / t.n_all)
                      * (1e0 - t.k_all * 1e0 / t.n_all)
                      * (1e0 / s.n + 1e0 / (t.n_all - s.n)))
           ) > 1.959964e0 THEN 1 ELSE 0 END AS significant_95
    FROM seg s CROSS JOIN tot t
    ORDER BY s.segment
"""


def two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of each market segment's URGENT-order rate
    against the rest of the population (pooled-variance z, 95% flag).

    Scale shape: one join + grouped agg to 5 rows, a 1-row total, and the
    closed-form statistic — fully partial-aggregatable, no windows."""
    load_tables(spark, sf_dir)
    return spark.sql(_ZTEST_SQL)


QUERIES["two_proportion_ztest"] = two_proportion_ztest
ORACLE["two_proportion_ztest"] = _ZTEST_SQL


# --- Brier score decomposition --------------------------------------------------
#
# Murphy (1973) decomposition of the Brier score of a probabilistic
# classifier: BS = REL - RES + UNC, with REL = sum n_k (p_k - o_k)^2 / N,
# RES = sum n_k (o_k - obar)^2 / N, UNC = obar (1 - obar), where k ranges
# over distinct forecast values. The forecaster is the canonical
# cell-historical-rate model: P(order has a returned item) estimated per
# (priority, order-year) cell on the md5-even half, evaluated on the
# md5-odd half. Because forecasts are cell-constant, grouping the test set
# by forecast value makes the identity hold EXACTLY (up to float noise) —
# emitted as identity_gap, which must round to zero.


def _brier_flagged_sql(h: str, yr: str) -> str:
    """The per-order (fold, y) relation — the one corpus-scale join+agg of
    the decomposition. Referenced twice downstream (model fit on fold 0,
    scoring on fold 1), so callers MATERIALIZE it: CTE inlining replays
    the fact join per reference. At sf0.1 the checkpoint write costs about
    what the second replay did (~3.2 s either way); at fact scale the
    single join+shuffle pass is the right trade — the checkpoint is a
    linear write, the replay is a second full shuffle."""
    return f"""
        SELECT o.o_orderkey, o.o_orderpriority,
               {yr} AS yr,
               {h} % 2 AS fold,
               max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                   AS y
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority, {yr}, {h} % 2
    """


def _brier_sql(flagged_src: str, mat: str = "") -> str:
    return f"""
        WITH flagged AS {mat}(
            {flagged_src}
        ),
        model AS (
            SELECT o_orderpriority, yr, avg(y * 1e0) AS p_hat
            FROM flagged WHERE fold = 0
            GROUP BY o_orderpriority, yr
        ),
        test AS (
            SELECT f.y, m.p_hat
            FROM flagged f JOIN model m
              ON f.o_orderpriority = m.o_orderpriority AND f.yr = m.yr
            WHERE f.fold = 1
        ),
        bins AS (
            SELECT p_hat, count(*) AS n_k, avg(y * 1e0) AS o_k
            FROM test GROUP BY p_hat
        ),
        tot AS (
            SELECT sum(n_k) AS n, sum(n_k * o_k) / sum(n_k) AS obar
            FROM bins
        )
        SELECT CAST(t.n AS BIGINT) AS n_test,
               CAST((SELECT count(*) FROM bins) AS BIGINT) AS n_bins,
               {R("t.obar", 6)} AS base_rate,
               {R("sum(b.n_k * (b.p_hat - b.o_k) * (b.p_hat - b.o_k)) / t.n", 6)}
                   AS reliability,
               {R("sum(b.n_k * (b.o_k - t.obar) * (b.o_k - t.obar)) / t.n", 6)}
                   AS resolution,
               {R("t.obar * (1e0 - t.obar)", 6)} AS uncertainty,
               {R('''sum(b.n_k * (b.p_hat - b.o_k) * (b.p_hat - b.o_k)) / t.n
                   - sum(b.n_k * (b.o_k - t.obar) * (b.o_k - t.obar)) / t.n
                   + t.obar * (1e0 - t.obar)''', 6)} AS brier,
               {R('''sum(b.n_k * (b.p_hat - b.o_k) * (b.p_hat - b.o_k)) / t.n
                   - sum(b.n_k * (b.o_k - t.obar) * (b.o_k - t.obar)) / t.n
                   + t.obar * (1e0 - t.obar)
                   - sum(b.n_k * ((b.p_hat - b.o_k) * (b.p_hat - b.o_k)
                         + (b.o_k * (1e0 - b.o_k)))) / t.n''', 6)}
                   AS identity_gap
        FROM bins b CROSS JOIN tot t
        GROUP BY t.n, t.obar
    """


def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (reliability - resolution +
    uncertainty) for the cell-historical-rate return-probability model,
    trained on the md5-even orders and scored on the md5-odd half.
    identity_gap re-derives the Brier score as the per-bin expected squared
    error and must round to zero — the self-check that the decomposition
    (not just its three terms) was computed correctly.

    Scale shape: one join + grouped agg per order, a broadcast-sized model
    relation (|priorities| x |years|), then two tiny rollups. The fold
    split is a pure function of the key (leakage-proof, reshuffle-stable)."""
    load_tables(spark, sf_dir)
    materialize(spark.sql(_brier_flagged_sql(
        "CAST(conv(substring(md5(CAST(o.o_orderkey AS STRING)), 1, 4), 16, 10)"
        " AS INT)",
        "year(o.o_orderdate)",
    ))).createOrReplaceTempView("brier_flagged_v")
    return spark.sql(_brier_sql("SELECT * FROM brier_flagged_v"))


QUERIES["brier_decomposition"] = brier_decomposition
ORACLE["brier_decomposition"] = _brier_sql(
    _brier_flagged_sql(
        "CAST(concat('0x', substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 4))"
        " AS INTEGER)",
        "year(o.o_orderdate)",
    ),
    mat="MATERIALIZED ",
)


# --- iterative proportional fitting (raking) -------------------------------------
#
# Deming & Stephan (1940): adjust cell weights of a contingency table so
# its margins hit target row/column totals, alternating row and column
# scaling. Survey statistics' standard weighting step. Targets here:
# EQUAL order volume per market segment (row), observed per-nation volume
# (column) — so the column passes restore nation margins exactly and the
# row margins converge toward uniform. Two full (row, col) rounds,
# unrolled; the cell grid is |segments| x |nations| = 125 rows, so every
# level after the base aggregation is broadcast-sized at any corpus scale.

_RAKE_ROUNDS = 2


def _rake_chain() -> str:
    parts = [
        "tr AS (SELECT sum(n) * 1e0 / count(DISTINCT seg) AS t FROM cells)",
        "tc AS (SELECT nk, sum(n) * 1e0 AS t FROM cells GROUP BY nk)",
        "w0 AS (SELECT seg, nk, n, 1e0 AS w FROM cells)",
    ]
    lvl = 0
    for _ in range(_RAKE_ROUNDS):
        parts.append(f"""rs{lvl} AS (
            SELECT seg, sum(n * w) AS m FROM w{lvl} GROUP BY seg
        )""")
        parts.append(f"""w{lvl + 1} AS (
            SELECT w.seg, w.nk, w.n, w.w * tr.t / r.m AS w
            FROM w{lvl} w JOIN rs{lvl} r ON w.seg = r.seg CROSS JOIN tr
        )""")
        parts.append(f"""cs{lvl + 1} AS (
            SELECT nk, sum(n * w) AS m FROM w{lvl + 1} GROUP BY nk
        )""")
        parts.append(f"""w{lvl + 2} AS (
            SELECT w.seg, w.nk, w.n, w.w * tc.t / c.m AS w
            FROM w{lvl + 1} w JOIN cs{lvl + 1} c ON w.nk = c.nk
            JOIN tc ON tc.nk = w.nk
        )""")
        lvl += 2
    return ",\n".join(parts), lvl


def _rake_sql(cells_src: str) -> str:
    chain, lvl = _rake_chain()
    return f"""
        WITH cells AS {cells_src},
        {chain}
        SELECT w.seg AS segment, n.n_name AS nation,
               CAST(w.n AS BIGINT) AS n_orders,
               {R("w.w", 6)} AS rake_weight,
               {R("w.n * w.w", 2)} AS weighted_n
        FROM w{lvl} w JOIN nation n ON n.n_nationkey = w.nk
        ORDER BY segment, nation
    """


_RAKE_CELLS = """(
    SELECT c.c_mktsegment AS seg, c.c_nationkey AS nk, count(*) AS n
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment, c.c_nationkey
)"""


def raking_ipf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPF (raking) cell weights for the segment x nation order table:
    two alternating row/column scaling rounds toward equal-per-segment
    row margins and observed per-nation column margins.

    Scale shape: ONE grouped agg over the fact join produces the 125-row
    cell grid (materialized — the unrolled scaling chain references it
    through every level); everything after is fixed-size regardless of
    corpus scale, the defining property of margin raking."""
    load_tables(spark, sf_dir)
    materialize(spark.sql("SELECT * FROM " + _RAKE_CELLS)).createOrReplaceTempView(
        "rake_cells_v"
    )
    return spark.sql(_rake_sql("(SELECT * FROM rake_cells_v)"))


QUERIES["raking_ipf_weights"] = raking_ipf_weights
ORACLE["raking_ipf_weights"] = _rake_sql("MATERIALIZED " + _RAKE_CELLS)


# --- CUPED variance reduction -----------------------------------------------------
#
# Deng, Xu, Kohavi, Walker (WSDM 2013): reduce A/B metric variance with a
# pre-experiment covariate: Y' = Y - theta (X - E[X]), theta = cov(X,Y)/
# var(X). Arms are an md5 split of customers (leakage-proof); Y = revenue
# from 1998 on, X = pre-1998 revenue (the fixture's order history spans
# 1995-2001; 1998 splits it near the middle).


def _cuped_sql(h: str) -> str:
    return f"""
        WITH rev AS (
            SELECT o_custkey,
                   sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                            THEN o_totalprice ELSE 0e0 END) AS x,
                   sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
                            THEN o_totalprice ELSE 0e0 END) AS y
            FROM orders GROUP BY o_custkey
        ),
        j AS (
            SELECT ({h}) % 2 AS arm,
                   coalesce(r.x, 0e0) AS x, coalesce(r.y, 0e0) AS y
            FROM customer c LEFT JOIN rev r ON r.o_custkey = c.c_custkey
        ),
        th AS (
            SELECT covar_samp(x, y) / var_samp(x) AS theta, avg(x) AS mx
            FROM j
        )
        SELECT j.arm,
               CAST(count(*) AS BIGINT) AS n_customers,
               {R("avg(j.y)", 2)} AS mean_y,
               {R("avg(j.y - th.theta * (j.x - th.mx))", 2)} AS mean_y_cuped,
               {R("var_samp(j.y) / 1e6", 2)} AS var_y_millions,
               {R("var_samp(j.y - th.theta * (j.x - th.mx)) / 1e6", 2)}
                   AS var_y_cuped_millions,
               {R("1e0 - var_samp(j.y - th.theta * (j.x - th.mx))"
                  " / var_samp(j.y)", 6)} AS var_reduction
        FROM j CROSS JOIN th
        GROUP BY j.arm
        ORDER BY j.arm
    """


def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted experiment readout per md5 arm: raw vs adjusted
    means and variances, and the variance reduction factor (equal to the
    squared pre/post correlation in expectation).

    Scale shape: one grouped agg per customer, a 1-row theta relation
    (covar_samp/var_samp are single-pass partial aggregates), one
    broadcast cross join, one 2-row rollup."""
    load_tables(spark, sf_dir)
    return spark.sql(_cuped_sql(
        "CAST(conv(substring(md5(CAST(c.c_custkey AS STRING)), 1, 4), 16, 10)"
        " AS INT)"
    ))


QUERIES["cuped_variance_reduction"] = cuped_variance_reduction
ORACLE["cuped_variance_reduction"] = _cuped_sql(
    "CAST(concat('0x', substr(md5(CAST(c.c_custkey AS VARCHAR)), 1, 4))"
    " AS INTEGER)"
)


# --- pinball-loss quantile backtest ------------------------------------------------
#
# Quantile forecasts are scored with pinball (quantile) loss
# L_q(y, f) = max(q (y - f), (q - 1)(y - f)) — the strictly proper scoring
# rule for quantiles. Model: per-weekday empirical q10/50/90 of daily
# revenue on the pre-1996 train years; scored on 1996+. Weekday via
# epoch-day % 7 arithmetic (engine week origins disagree; day arithmetic
# does not).


def _pinball_sql(epoch_day: str, pctl: str) -> str:
    return f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   ({epoch_day}) % 7 AS dow,
                   sum(o_totalprice) AS rev
            FROM orders GROUP BY CAST(o_orderdate AS DATE), {epoch_day}
        ),
        model AS (
            SELECT dow,
                   {pctl}(rev, 0.1) AS f10,
                   {pctl}(rev, 0.5) AS f50,
                   {pctl}(rev, 0.9) AS f90
            FROM daily WHERE d < DATE '1996-01-01' GROUP BY dow
        ),
        test AS (
            SELECT t.rev, m.f10, m.f50, m.f90
            FROM daily t JOIN model m ON t.dow = m.dow
            WHERE t.d >= DATE '1996-01-01'
        )
        SELECT CAST(count(*) AS BIGINT) AS n_test_days,
               {R("avg(CASE WHEN rev >= f10 THEN 0.1e0 * (rev - f10)"
                  " ELSE 0.9e0 * (f10 - rev) END)", 2)} AS pinball_q10,
               {R("avg(CASE WHEN rev >= f50 THEN 0.5e0 * (rev - f50)"
                  " ELSE 0.5e0 * (f50 - rev) END)", 2)} AS pinball_q50,
               {R("avg(CASE WHEN rev >= f90 THEN 0.9e0 * (rev - f90)"
                  " ELSE 0.1e0 * (f90 - rev) END)", 2)} AS pinball_q90,
               {R("avg(CASE WHEN rev <= f10 THEN 1e0 ELSE 0e0 END)", 4)}
                   AS coverage_q10,
               {R("avg(CASE WHEN rev <= f90 THEN 1e0 ELSE 0e0 END)", 4)}
                   AS coverage_q90
        FROM test
    """


def pinball_quantile_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball-loss backtest of the per-weekday q10/50/90 daily-revenue
    quantile model (train < 1996, test >= 1996), with empirical tail
    coverage.

    Scale shape: daily rollup, a 7-row quantile model (broadcast), one
    scoring pass — the model relation is calendar-bounded forever."""
    load_tables(spark, sf_dir)
    return spark.sql(_pinball_sql(
        "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')",
        "percentile",
    ))


QUERIES["pinball_quantile_backtest"] = pinball_quantile_backtest
ORACLE["pinball_quantile_backtest"] = _pinball_sql(
    "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))",
    "quantile_cont",
)


# --- McNemar paired-classifier test -------------------------------------------------
#
# McNemar (1947): for two binary raters on the SAME items, test marginal
# homogeneity from the discordant cells only: chi2 = (b - c)^2 / (b + c).
# Raters: the char-length rule (n_chars >= 300) vs the token-length rule
# (>= 56 whitespace tokens) on documents — correlated rules whose
# disagreement pattern is exactly what McNemar isolates.

_MCNEMAR_THRESH_CHARS = 300
_MCNEMAR_THRESH_TOKS = 56


def _mcnemar_sql(ntok: str) -> str:
    return f"""
        WITH flags AS (
            SELECT CASE WHEN n_chars >= {_MCNEMAR_THRESH_CHARS}
                        THEN 1 ELSE 0 END AS a,
                   CASE WHEN {ntok} >= {_MCNEMAR_THRESH_TOKS}
                        THEN 1 ELSE 0 END AS b
            FROM documents
        )
        SELECT CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS both_pass,
               CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS only_a,
               CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS only_b,
               CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS both_fail,
               {R("avg(CASE WHEN a = b THEN 1e0 ELSE 0e0 END)", 4)}
                   AS agreement,
               {R('''pow(sum(CASE WHEN a = 1 AND b = 0 THEN 1e0 ELSE 0e0 END)
                     - sum(CASE WHEN a = 0 AND b = 1 THEN 1e0 ELSE 0e0 END), 2)
                   / nullif(sum(CASE WHEN a <> b THEN 1e0 ELSE 0e0 END), 0)''',
                  4)} AS mcnemar_chi2
        FROM flags
    """


def mcnemar_filter_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar test comparing the char-length and token-length document
    filters: full 2x2 paired table, agreement rate, and the
    discordant-cell chi-square statistic.

    Scale shape: one projection + one aggregate row; trivially
    partial-aggregatable at any corpus size."""
    load_tables(spark, sf_dir)
    return spark.sql(_mcnemar_sql("size(split(text, ' '))"))


QUERIES["mcnemar_filter_compare"] = mcnemar_filter_compare
ORACLE["mcnemar_filter_compare"] = _mcnemar_sql(
    "CAST(len(string_split(text, ' ')) AS INT)"
)


# --- information-gain feature ranking ------------------------------------------
#
# Decision-tree-style feature screening: for each candidate categorical
# feature, IG(Y; X) = H(Y) - sum_x p(x) H(Y | X=x), with Y = the binary
# high-value-order outcome. One grouped agg per feature UNIONed into a
# ranked report — the standard first pass before training any tabular
# model on warehouse data.

_IG_FEATURES = [
    ("priority", "o_orderpriority"),
    ("status", "o_orderstatus"),
    ("segment", "c_mktsegment"),
    ("nation", "CAST(c_nationkey AS STRING)"),
    ("order_dow", "CAST({dow} AS STRING)"),
]


def _ig_sql(dow: str, cast_str: str) -> str:
    feats = [
        (n, e.replace("{dow}", dow).replace("AS STRING", cast_str))
        for n, e in _IG_FEATURES
    ]
    branches = " UNION ALL ".join(
        f"SELECT '{name}' AS feature, {expr} AS x, y FROM base"
        for name, expr in feats
    )
    return f"""
        WITH base AS (
            SELECT o.o_orderkey, o.o_orderpriority, o.o_orderstatus,
                   o.o_orderdate, c.c_mktsegment, c.c_nationkey,
                   CASE WHEN o.o_totalprice >= 150000e0 THEN 1 ELSE 0 END
                       AS y
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        lf AS ({branches}),
        cell AS (
            SELECT feature, x, count(*) AS n, avg(y * 1e0) AS p
            FROM lf GROUP BY feature, x
        ),
        tot AS (
            SELECT feature, sum(n) AS n_all,
                   sum(n * p) / sum(n) AS p_all
            FROM cell GROUP BY feature
        ),
        ig AS (
            SELECT c.feature,
                   count(*) AS n_levels,
                   (CASE WHEN t.p_all IN (0e0, 1e0) THEN 0e0
                         ELSE -t.p_all * ln(t.p_all)
                              - (1e0 - t.p_all) * ln(1e0 - t.p_all) END)
                   - sum((c.n * 1e0 / t.n_all)
                         * CASE WHEN c.p IN (0e0, 1e0) THEN 0e0
                                ELSE -c.p * ln(c.p)
                                     - (1e0 - c.p) * ln(1e0 - c.p) END)
                       AS gain
            FROM cell c JOIN tot t ON c.feature = t.feature
            GROUP BY c.feature, t.p_all
        )
        SELECT feature,
               CAST(n_levels AS BIGINT) AS n_levels,
               {R("gain", 6)} AS info_gain_nats
        FROM ig
        ORDER BY floor(gain * 1e6 + 0.501e0) DESC, feature
    """


def feature_information_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information gain (nats) of five categorical features about the
    high-value-order outcome, ranked — the model-free feature screen.

    Scale shape: one fact join feeds a 5-way projection union; each
    feature reduces to a |levels|-row cell relation (grouped, partial-
    aggregatable), and the entropy algebra runs on those tiny relations."""
    load_tables(spark, sf_dir)
    return spark.sql(_ig_sql(
        "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') % 7",
        "AS STRING",
    ))


QUERIES["feature_information_gain"] = feature_information_gain
ORACLE["feature_information_gain"] = _ig_sql(
    "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 7",
    "AS VARCHAR",
)


# --- out-of-fold target encoding -------------------------------------------------
#
# Leakage-safe categorical encoding (the Kaggle-standard "target/mean
# encoding with K folds"): a row in fold f gets the category's outcome
# mean computed from the OTHER K-1 folds, so its own label never leaks
# into its feature. Folds are md5(o_orderkey) % K — reshuffle-stable.
# Smoothing: alpha pseudo-observations at the global rate.

_TE_FOLDS = 5
_TE_ALPHA = 20.0


def _te_sql(h: str) -> str:
    return f"""
        WITH base AS (
            SELECT o_orderkey, o_orderpriority AS cat,
                   ({h}) % {_TE_FOLDS} AS fold,
                   CASE WHEN o_totalprice >= 150000e0 THEN 1e0 ELSE 0e0 END
                       AS y
            FROM orders o
        ),
        cf AS (
            SELECT cat, fold, count(*) AS n, sum(y) AS s
            FROM base GROUP BY cat, fold
        ),
        ct AS (SELECT cat, sum(n) AS n, sum(s) AS s FROM cf GROUP BY cat),
        g AS (SELECT sum(n) AS n, sum(s) AS s FROM ct)
        SELECT cf.cat AS category, cf.fold,
               CAST(cf.n AS BIGINT) AS n_rows,
               {R("(ct.s - cf.s + {a} * g.s / g.n)"
                  " / (ct.n - cf.n + {a})", 6).format(a=_TE_ALPHA)}
                   AS oof_encoding,
               {R("ct.s / ct.n", 6)} AS full_data_encoding
        FROM cf JOIN ct ON cf.cat = ct.cat CROSS JOIN g
        ORDER BY category, fold
    """


def target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold smoothed target encoding of order priority against the
    high-value outcome: per (category, fold), the encoding a row in that
    fold would receive (leave-fold-out mean with {alpha}-strength
    smoothing toward the global rate), next to the leaky full-data mean.

    Scale shape: one grouped agg to |cats| x K cells; the leave-fold-out
    algebra is (total - fold) arithmetic on that tiny relation — the
    whole encoder is O(1) state per category, never a per-row join."""
    load_tables(spark, sf_dir)
    return spark.sql(_te_sql(
        "CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 4), 16, 10)"
        " AS INT)"
    ))


QUERIES["target_encoding_oof"] = target_encoding_oof
ORACLE["target_encoding_oof"] = _te_sql(
    "CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))"
    " AS INTEGER)"
)


# --- stratified average treatment effect -------------------------------------------
#
# Observational ATE by exact stratification (Cochran 1968): within each
# (segment, order-year) stratum compare URGENT vs non-URGENT order values,
# then average the per-stratum differences weighted by stratum size —
# removing confounding carried by the stratification variables. The
# per-stratum requirement (both arms present) is the overlap condition.


def _sate_sql(yr: str) -> str:
    return f"""
        WITH base AS (
            SELECT c.c_mktsegment AS seg, {yr} AS yr,
                   CASE WHEN o.o_orderpriority = '1-URGENT'
                        THEN 1 ELSE 0 END AS t,
                   o.o_totalprice AS y
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        strata AS (
            SELECT seg, yr,
                   count(*) AS n,
                   sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS n1,
                   avg(CASE WHEN t = 1 THEN y END) AS y1,
                   avg(CASE WHEN t = 0 THEN y END) AS y0
            FROM base GROUP BY seg, yr
        ),
        ok AS (
            SELECT * FROM strata WHERE n1 > 0 AND n1 < n
        )
        SELECT CAST(count(*) AS BIGINT) AS n_strata,
               CAST(sum(n) AS BIGINT) AS n_orders,
               {R("sum(n * (y1 - y0)) / sum(n)", 2)} AS ate_stratified,
               {R("(sum(n1 * y1) / sum(n1))"
                  " - (sum((n - n1) * y0) / sum(n - n1))", 2)} AS ate_naive,
               {R("min(y1 - y0)", 2)} AS min_stratum_effect,
               {R("max(y1 - y0)", 2)} AS max_stratum_effect
        FROM ok
    """


def stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified ATE of URGENT priority on order value over (segment,
    year) strata with the overlap condition enforced, next to the naive
    unadjusted difference and the stratum-effect range.

    Scale shape: one join + grouped agg to the stratum grid (bounded by
    |segments| x |years|), then a 1-row fold."""
    load_tables(spark, sf_dir)
    return spark.sql(_sate_sql("year(o.o_orderdate)"))


QUERIES["stratified_ate"] = stratified_ate
ORACLE["stratified_ate"] = _sate_sql("year(o.o_orderdate)")


# --- log-rank test (survival curves comparison) -------------------------------------
#
# Mantel (1966) / Peto & Peto: compare time-to-second-order between the
# BUILDING segment and the rest. At each distinct event time t: observed
# group-1 events d1 vs expected d*n1/n under the null, variance
# hypergeometric; chi2 = U^2/V. Customers with no second order are
# right-censored at the fixture's last order date — the companion
# significance test to the Kaplan-Meier curve operator.


def _logrank_sql(dd: str) -> str:
    return f"""
        WITH seq AS (
            SELECT o.o_custkey,
                   CAST(o.o_orderdate AS DATE) AS d,
                   CAST(row_number() OVER (PARTITION BY o.o_custkey
                       ORDER BY o.o_orderdate, o.o_orderkey) AS BIGINT)
                       AS rn,
                   c.c_mktsegment
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        horizon AS (SELECT max(d) AS h FROM seq),
        per_cust AS (
            SELECT o_custkey,
                   CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                       AS g,
                   min(CASE WHEN rn = 1 THEN d END) AS t1,
                   min(CASE WHEN rn = 2 THEN d END) AS t2
            FROM seq GROUP BY o_custkey,
                 CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
        ),
        base AS (
            SELECT g,
                   CASE WHEN t2 IS NOT NULL THEN {dd.format(a="t1", b="t2")}
                        ELSE {dd.format(a="t1", b="h.h")} END AS t,
                   CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END AS ev
            FROM per_cust CROSS JOIN horizon h
        ),
        evt AS (
            SELECT t, sum(ev) AS d,
                   sum(CASE WHEN g = 1 THEN ev ELSE 0 END) AS d1
            FROM base WHERE ev = 1 GROUP BY t
        ),
        allt AS (
            SELECT t, count(*) AS c, sum(g) AS c1 FROM base GROUP BY t
        ),
        cum AS (
            -- bounded window: allt has one row per duration-day grid value
            SELECT t,
                   sum(c) OVER (PARTITION BY (hash(t) % 1) ORDER BY t DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS n,
                   sum(c1) OVER (PARTITION BY (hash(t) % 1) ORDER BY t DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS n1
            FROM allt
        ),
        terms AS (
            SELECT e.d, e.d1, c.n, c.n1,
                   e.d * c.n1 * 1e0 / c.n AS e1,
                   CASE WHEN c.n > 1
                        THEN e.d * (c.n1 * 1e0 / c.n)
                             * (1e0 - c.n1 * 1e0 / c.n)
                             * (c.n - e.d) / (c.n - 1e0)
                        ELSE 0e0 END AS v
            FROM evt e JOIN cum c ON c.t = e.t
        )
        SELECT CAST((SELECT count(*) FROM base) AS BIGINT) AS n_customers,
               CAST(sum(d) AS BIGINT) AS n_events,
               CAST(sum(d1) AS BIGINT) AS observed_g1,
               {R("sum(e1)", 4)} AS expected_g1,
               {R("pow(sum(d1) - sum(e1), 2) / nullif(sum(v), 0e0)", 4)}
                   AS logrank_chi2,
               CASE WHEN pow(sum(d1) - sum(e1), 2) / nullif(sum(v), 0e0)
                         > 3.841459e0 THEN 1 ELSE 0 END AS significant_95
        FROM terms
    """


def logrank_test_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test of time-to-second-order, BUILDING vs the rest
    (right-censored at the corpus horizon): observed vs expected events,
    chi-square, 95% flag.

    Scale shape: one per-customer window (customer-partitioned) + grouped
    aggs; the risk-set cumulative runs on the DISTINCT-time relation
    (calendar-bounded), declared single-partition."""
    load_tables(spark, sf_dir)
    return spark.sql(_logrank_sql("datediff({b}, {a})"))


QUERIES["logrank_test_segments"] = logrank_test_segments
ORACLE["logrank_test_segments"] = _logrank_sql("datediff('day', {a}, {b})")


# --- A/B experiment health: SRM + covariate balance ----------------------------------
#
# The two pre-readout health checks every experimentation platform runs
# (Kohavi et al., "Trustworthy Online Controlled Experiments" ch. 21):
# sample-ratio mismatch (chi-square of arm sizes against the designed
# 50/50) and covariate balance (standardized mean difference of a
# pre-treatment covariate; |SMD| > 0.1 is the imbalance rule of thumb).
# Arms reuse the CUPED md5 split; scope rows = overall + each segment.


def _srm_sql(h: str) -> str:
    return f"""
        WITH armed AS (
            SELECT c_mktsegment AS seg, c_acctbal AS x,
                   ({h}) % 2 AS arm
            FROM customer c
        ),
        scoped AS (
            SELECT 'overall' AS scope, x, arm FROM armed
            UNION ALL
            SELECT seg AS scope, x, arm FROM armed
        ),
        agg AS (
            SELECT scope,
                   sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
                   sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
                   avg(CASE WHEN arm = 0 THEN x END) AS m0,
                   avg(CASE WHEN arm = 1 THEN x END) AS m1,
                   var_samp(CASE WHEN arm = 0 THEN x END) AS v0,
                   var_samp(CASE WHEN arm = 1 THEN x END) AS v1
            FROM scoped GROUP BY scope
        )
        SELECT scope,
               CAST(n0 AS BIGINT) AS n_arm0,
               CAST(n1 AS BIGINT) AS n_arm1,
               {R("pow(n0 - n1, 2) * 1e0 / (n0 + n1)", 4)} AS srm_chi2,
               CASE WHEN pow(n0 - n1, 2) * 1e0 / (n0 + n1) > 3.841459e0
                    THEN 1 ELSE 0 END AS srm_flag,
               {R("(m0 - m1) / sqrt((v0 + v1) / 2e0)", 4)} AS smd_acctbal,
               CASE WHEN abs((m0 - m1) / sqrt((v0 + v1) / 2e0)) > 0.1e0
                    THEN 1 ELSE 0 END AS imbalance_flag
        FROM agg
        ORDER BY scope
    """


def ab_experiment_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment health per scope (overall + each segment): sample-ratio
    mismatch chi-square against 50/50 with the 95% flag, and the
    standardized mean difference of the pre-treatment account balance
    with the |SMD| > 0.1 imbalance flag.

    Scale shape: one projection, one grouped agg over the 6 scope rows
    (the UNION ALL doubles the scan of a dimension table, not a fact);
    all statistics are single-pass partial aggregates."""
    load_tables(spark, sf_dir)
    return spark.sql(_srm_sql(
        "CAST(conv(substring(md5(CAST(c.c_custkey AS STRING)), 1, 4), 16, 10)"
        " AS INT)"
    ))


QUERIES["ab_experiment_health"] = ab_experiment_health
ORACLE["ab_experiment_health"] = _srm_sql(
    "CAST(concat('0x', substr(md5(CAST(c.c_custkey AS VARCHAR)), 1, 4))"
    " AS INTEGER)"
)


# --- capture-recapture population estimate -------------------------------------------
#
# Lincoln-Petersen with the Chapman (1951) correction: estimate the total
# user population from two independent "captures" (users seen clicking,
# users seen viewing): N = (n1+1)(n2+1)/(m+1) - 1, m = recaptured in
# both. The coverage-estimation trick ecology lends to dedup/crawl
# completeness audits ("how many users/docs exist that we never saw").

_CRC_SQL = f"""
    WITH per_user AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b
        FROM events GROUP BY user_id
    ),
    counts AS (
        SELECT sum(a) AS n1, sum(b) AS n2,
               sum(a * b) AS m, count(*) AS seen_total
        FROM per_user
    )
    SELECT CAST(n1 AS BIGINT) AS captured_click,
           CAST(n2 AS BIGINT) AS captured_view,
           CAST(m AS BIGINT) AS recaptured_both,
           CAST(seen_total AS BIGINT) AS observed_users,
           {R("(n1 + 1e0) * (n2 + 1e0) / (m + 1e0) - 1e0", 2)}
               AS chapman_estimate,
           {R('''abs((n1 + 1e0) * (n2 + 1e0) / (m + 1e0) - 1e0
                 - seen_total) / seen_total''', 4)} AS rel_gap_to_observed
    FROM counts
"""


def capture_recapture_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman-corrected Lincoln-Petersen estimate of the user population
    from the click/view capture pair, next to the observed distinct-user
    count and the relative gap.

    Scale shape: one grouped membership pass per user + a 1-row fold."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_CRC_SQL)


QUERIES["capture_recapture_estimate"] = capture_recapture_estimate
ORACLE["capture_recapture_estimate"] = _CRC_SQL


# --- quantile normalization by source -------------------------------------------------
#
# Bolstad et al. (Bioinformatics 2003): map every group's distribution
# onto a common reference so group effects vanish — here each source's
# doc-length distribution is replaced by the pooled quantile at the
# document's within-source percent rank (65-point grid). The batch-effect
# remover feature pipelines apply before cross-source comparisons.

_QN_GRID = 64
_QN_PROBS = ", ".join(f"{i / _QN_GRID!r}e0" for i in range(_QN_GRID + 1))


def _qn_sql(grid_rel: str) -> str:
    return f"""
        WITH lens AS (
            SELECT doc_id, source, n_chars * 1e0 AS x FROM documents
        ),
        pr AS (
            SELECT doc_id, source, x,
                   percent_rank() OVER (PARTITION BY source
                       ORDER BY x, doc_id) AS p
            FROM lens
        ),
        grid AS ({grid_rel}),
        mapped AS (
            SELECT pr.source, pr.x, g.q AS xq
            FROM pr JOIN grid g
              ON g.i = CAST(floor(pr.p * {_QN_GRID} + 0.5e0) AS BIGINT)
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               {R("avg(x)", 2)} AS mean_before,
               {R("avg(xq)", 2)} AS mean_after,
               {R("stddev_samp(x)", 2)} AS sd_before,
               {R("stddev_samp(xq)", 2)} AS sd_after
        FROM mapped
        GROUP BY source ORDER BY source
    """


_QN_SPARK_GRID = (
    f"SELECT g.pos AS i, g.col AS q FROM (SELECT percentile(x, "
    f"array({_QN_PROBS})) AS qs FROM lens) t "
    "LATERAL VIEW posexplode(t.qs) g AS pos, col"
)
_QN_DUCK_GRID = (
    f"SELECT u.i, qs[u.i + 1] AS q FROM (SELECT quantile_cont(x, "
    f"[{_QN_PROBS}]) AS qs FROM lens) t, "
    f"unnest(range(0, {_QN_GRID + 1})) AS u(i)"
)


def quantile_normalization_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize per-source doc lengths onto the pooled
    distribution: per source, moments before vs after (after-moments
    converge across sources — the batch effect removed).

    Scale shape: one per-source rank window, a 65-row broadcast quantile
    grid (single pooled percentile pass), one equi-join on the grid
    index, one grouped rollup. The grid size is fixed, so the reference
    model is broadcast-scale at any corpus size."""
    load_tables(spark, sf_dir)
    return spark.sql(_qn_sql(_QN_SPARK_GRID))


QUERIES["quantile_normalization_by_source"] = quantile_normalization_by_source
ORACLE["quantile_normalization_by_source"] = _qn_sql(_QN_DUCK_GRID)


# --- A/B sample-size / MDE planner ---------------------------------------------------
#
# The experiment-DESIGN companion to ab_experiment_health / welch_ab_test:
# before launching a test on this population, how many users per arm does
# each minimum detectable effect (Cohen's d grid) require at alpha = 0.05
# two-sided / 80% power, and what is the smallest effect the OBSERVED arm
# sizes can already detect (in d units and in absolute metric units via
# the population's own acctbal sd)? Standard normal-approximation
# two-sample formula n/arm = 2 (z_{a/2} + z_beta)^2 / d^2 (Kohavi et al.
# ch. 17 / any power primer). z constants are spelled as literals and
# combined by multiplication (not pow), so both engines compute required_n
# from bit-identical doubles and the ceil() can't straddle engines.

Z_ALPHA_2 = 1.959964  # two-sided alpha = 0.05
Z_POWER_80 = 0.841621  # power = 0.80
_MDE_GRID = [0.02, 0.05, 0.1, 0.2, 0.3, 0.5, 0.8]


def _sample_size_sql(h: str, grid_src: str) -> str:
    zsum = f"({Z_ALPHA_2}e0 + {Z_POWER_80}e0)"
    req = f"ceil(2e0 * {zsum} * {zsum} / (g.d * g.d))"
    ach_d = f"{zsum} * sqrt(2e0 / least(s.n0, s.n1))"
    return f"""
        WITH armed AS (
            SELECT c_acctbal AS x, ({h}) % 2 AS arm
            FROM customer c
        ),
        s AS (
            SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
                   sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
                   var_samp(x) AS v
            FROM armed
        ),
        grid AS ({grid_src})
        SELECT g.d AS effect_size_d,
               CAST({req} AS BIGINT) AS required_n_per_arm,
               CAST(s.n0 AS BIGINT) AS n_arm0,
               CAST(s.n1 AS BIGINT) AS n_arm1,
               {R(ach_d, 4)} AS achievable_d,
               {R(f"({ach_d}) * sqrt(s.v)", 2)} AS achievable_abs_delta,
               CASE WHEN least(s.n0, s.n1) >= {req} THEN 1 ELSE 0 END
                   AS powered
        FROM grid g CROSS JOIN s
        ORDER BY effect_size_d
    """


_MDE_VALUES = ", ".join(f"({d}e0)" for d in _MDE_GRID)


def ab_sample_size_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-MDE sample-size requirements and the observed arms' achievable
    MDE on the customer population (see the section comment for the
    formula and determinism notes).

    Scale shape: one grouped pass over the dimension table (three partial
    aggregates), then a 6-row grid cross-joined against the one-row stats
    relation — O(1) beyond the single scan at any population size."""
    load_tables(spark, sf_dir)
    return spark.sql(_sample_size_sql(
        "CAST(conv(substring(md5(CAST(c.c_custkey AS STRING)), 1, 4), 16,"
        " 10) AS INT)",
        f"SELECT * FROM VALUES {_MDE_VALUES} AS g(d)",
    ))


QUERIES["ab_sample_size_planner"] = ab_sample_size_planner
ORACLE["ab_sample_size_planner"] = _sample_size_sql(
    "CAST(concat('0x', substr(md5(CAST(c.c_custkey AS VARCHAR)), 1, 4))"
    " AS INTEGER)",
    f"SELECT * FROM (VALUES {_MDE_VALUES}) g(d)",
)


# --- delta-method CI for ratio metrics ---------------------------------------------
# Experimentation's most common trap: "revenue per order" is a ratio of
# SUMS whose denominator is itself random, so the naive per-row variance
# is wrong. The delta method (Deng, Knoblich & Lu, KDD'18 §3.1 for the
# A/B-testing form) linearizes R = x̄/ȳ over the USER as the i.i.d. unit:
# var(R) ~ (s_x² + R² s_y² − 2 R s_xy) / (n ȳ²). All five moments are
# EXACT wide integers (spend in cents; cents² reaches ~4e18 per user, so
# squares accumulate in DECIMAL(38)/HUGEINT), so both engines hand the
# same integers to the same double arithmetic — no float-merge
# nondeterminism.
RATIO_Z95 = 1.959964


def _ratio_ci_sql(big) -> str:
    """Per-segment revenue-per-order ratio with a 95% delta-method CI;
    zero-order customers enter with (0, 0) — they are part of the user
    population the metric randomizes over. Identical text in both
    dialects (decimal cents cast to BIGINT before any float op)."""
    return f"""
        WITH per_user AS (
            SELECT c.c_mktsegment AS segment,
                   -- explicit cents grid: totalprice is a parquet DOUBLE,
                   -- and bare CAST(double AS BIGINT) truncates in Spark
                   -- but rounds in DuckDB
                   CAST(coalesce(sum(CAST(floor(o.o_totalprice * 100e0
                                                + 0.5e0) AS BIGINT)),
                                 0) AS BIGINT) AS x,
                   CAST(count(o.o_orderkey) AS BIGINT) AS y
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment, c.c_custkey
        ),
        m AS (
            SELECT segment, count(*) AS n,
                   sum(x) AS sx, sum(y) AS sy,
                   CAST(sum({big('x')} * x) AS DOUBLE) AS sxx,
                   CAST(sum(y * y) AS DOUBLE) AS syy,
                   CAST(sum(x * y) AS DOUBLE) AS sxy
            FROM per_user GROUP BY segment
        ),
        d AS (
            SELECT segment, n, sx, sy,
                   (sxx - CAST(sx AS DOUBLE) * sx / n) / (n - 1) AS vx,
                   (syy - CAST(sy AS DOUBLE) * sy / n) / (n - 1) AS vy,
                   (sxy - CAST(sx AS DOUBLE) * sy / n) / (n - 1) AS cxy,
                   CAST(sx AS DOUBLE) / sy AS rc,
                   CAST(sy AS DOUBLE) / n AS ybar
            FROM m
        ),
        ci AS (
            SELECT segment, n, rc,
                   sqrt((vx + rc * rc * vy - 2e0 * rc * cxy)
                        / (n * ybar * ybar)) AS sec
            FROM d
        )
        SELECT segment, CAST(n AS BIGINT) AS n_users,
               {R("rc / 100e0", 4)} AS revenue_per_order,
               {R("sec / 100e0", 6)} AS se,
               {R("(rc - {z} * sec) / 100e0", 4)} AS ci_lo,
               {R("(rc + {z} * sec) / 100e0", 4)} AS ci_hi
        FROM ci ORDER BY segment
    """.replace("{z}", f"{RATIO_Z95}e0")


def ratio_metric_delta_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% delta-method confidence interval for revenue-per-order, per
    customer segment (see _ratio_ci_sql) — the variance every ratio-metric
    experiment readout needs; the naive per-order variance understates it
    whenever order counts vary across users.

    Scale shape: one fact-dim equi-join into a per-user grouped sum
    (map-side combinable), then a per-segment fold of five exact-integer
    moments — two shuffles total, O(segments) output, no window, no
    second pass."""
    load_tables(spark, sf_dir)
    return spark.sql(_ratio_ci_sql(
        lambda x: f"CAST({x} AS DECIMAL(38, 0))"
    ))


QUERIES["ratio_metric_delta_ci"] = ratio_metric_delta_ci
ORACLE["ratio_metric_delta_ci"] = _ratio_ci_sql(
    lambda x: f"CAST({x} AS HUGEINT)"
)


# --- Benjamini-Hochberg FDR screen ------------------------------------------------
# Running one hypothesis per brand (25 of them) at alpha = 0.05 expects a
# false rejection per screen; the Benjamini-Hochberg step-up procedure
# (JRSS-B 1995) controls the false-discovery RATE instead: sort p
# ascending, reject the largest prefix with p_(k) <= k/m * q. The normal
# CDF is the Abramowitz & Stegun 26.2.17 polynomial (|error| < 7.5e-8 —
# four decimal grids below the p-value rounding), written as the SAME
# text in both dialects so p-values match bit-for-bit.
BH_Q = 0.05

_PHI_UPPER = (
    # 1 - Phi(z) for z >= 0 via A&S 26.2.17; {z} is substituted
    "(exp(-({z}) * ({z}) / 2e0) / 2.5066282746310002e0) * "
    "(((((1.330274429e0 * tt - 1.821255978e0) * tt + 1.781477937e0) * tt"
    " - 0.356563782e0) * tt + 0.319381530e0) * tt)"
)


def _bh_sql(big) -> str:
    """Per-brand two-sided one-sample z-test of mean retail price against
    the global mean (variance from the global population, exact cents
    moments), then the BH step-up over the m = #brands p-values. `big`
    widens the squared-cents term (DECIMAL(38,0) on Spark, HUGEINT in the
    oracle) so the second moment stays exact — cents^2 sums overflow a
    BIGINT under ANSI mode around SF~1000. Apart from the widener the
    text is identical in both dialects."""
    phi = _PHI_UPPER.replace("{z}", "az")
    return f"""
        WITH p AS (
            SELECT p_brand,
                   CAST(floor(p_retailprice * 100e0 + 0.5e0) AS BIGINT)
                       AS cents
            FROM part
        ),
        g AS (
            SELECT count(*) AS n, sum(cents) AS s,
                   CAST(sum({big('cents')} * cents) AS DOUBLE) AS ss
            FROM p
        ),
        b AS (
            SELECT p_brand, count(*) AS n, sum(cents) AS s
            FROM p GROUP BY p_brand
        ),
        z AS (
            SELECT b.p_brand, b.n,
                   CAST(b.s AS DOUBLE) / b.n AS mean_c,
                   (CAST(b.s AS DOUBLE) / b.n - CAST(g.s AS DOUBLE) / g.n)
                   / sqrt((g.ss - CAST(g.s AS DOUBLE) * g.s / g.n)
                          / (g.n - 1) / b.n) AS zst
            FROM b CROSS JOIN g
        ),
        pv AS (
            SELECT p_brand, n, mean_c, zst, abs(zst) AS az,
                   1e0 / (1e0 + 0.2316419e0 * abs(zst)) AS tt
            FROM z
        ),
        pval AS (
            SELECT p_brand, n, mean_c, zst,
                   2e0 * ({phi}) AS p2
            FROM pv
        ),
        ranked AS (
            -- hash(p_brand) % 1 declares the single-partition window over
            -- the m-row (bounded-by-construction) hypothesis relation
            SELECT p_brand, n, mean_c, zst, p2,
                   row_number() OVER (PARTITION BY (hash(p_brand) % 1)
                                      ORDER BY p2, p_brand) AS rk,
                   count(*) OVER (PARTITION BY (hash(p_brand) % 1)) AS m
            FROM pval
        ),
        cut AS (
            SELECT coalesce(max(CASE WHEN p2 <= rk * {BH_Q} / m
                                     THEN rk END), 0) AS kmax
            FROM ranked
        )
        SELECT r.p_brand AS brand, CAST(r.n AS BIGINT) AS n_parts,
               {R("r.mean_c / 100e0", 4)} AS mean_price,
               {R("r.zst", 4)} AS z,
               {R("r.p2", 6)} AS p_value,
               CAST(r.rk AS BIGINT) AS bh_rank,
               {R(f"r.rk * {BH_Q} / r.m", 6)} AS bh_critical,
               CAST(r.rk <= c.kmax AS INT) AS rejected
        FROM ranked r CROSS JOIN cut c
        ORDER BY bh_rank
    """


def bh_fdr_brand_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FDR-controlled screen for brands whose mean retail price deviates
    from the corpus mean (see _bh_sql): per-brand z and approximate
    two-sided p, BH step-up rank/critical value, and the rejected flag —
    the multiple-testing discipline every per-segment metric dashboard
    skips at its peril.

    Scale shape: exact integer moments from one grouped pass + a 1-row
    global broadcast; the BH machinery (rank window, step-up max) runs on
    the m-row hypothesis relation — O(brands), not O(parts). The rank
    window's single partition is intentional: m is the hypothesis count,
    bounded by construction."""
    load_tables(spark, sf_dir)
    return spark.sql(_bh_sql(lambda x: f"CAST({x} AS DECIMAL(38, 0))"))


QUERIES["bh_fdr_brand_price"] = bh_fdr_brand_price
ORACLE["bh_fdr_brand_price"] = _bh_sql(lambda x: f"CAST({x} AS HUGEINT)")


# --- distribution-free median CI ----------------------------------------------------
# The order-statistics confidence interval for the median (Conover,
# Practical Nonparametric Statistics §3.2): P(X_(l) <= median <= X_(u))
# needs NO distributional assumption — the bracket ranks come from the
# Binomial(n, 1/2) quantiles (normal approximation, the standard large-n
# form). The nonparametric companion to the bootstrap CI that costs two
# rank windows instead of B resamples.


def _median_ci_sql() -> str:
    """Per-segment exact median of account balance (lower median for even
    n) with the ~95% order-statistic bracket. Balances snap to an exact
    cents grid first (parquet DOUBLE; bare CAST truncates in Spark but
    rounds in DuckDB). Identical text in both dialects."""
    z = RATIO_Z95
    return f"""
        WITH v AS (
            SELECT c_mktsegment AS seg,
                   CAST(floor(c_acctbal * 100e0 + 0.5e0) AS BIGINT) AS cents
            FROM customer
        ),
        k AS (
            SELECT seg, count(*) AS n,
                   CAST(floor((count(*) + 1) / 2e0) AS BIGINT)
                       AS med_rank,
                   greatest(CAST(1 AS BIGINT),
                       CAST(floor(count(*) / 2e0
                            - {z}e0 * sqrt(count(*)) / 2e0) AS BIGINT))
                       AS lo_rank,
                   least(CAST(count(*) AS BIGINT),
                       CAST(ceil(count(*) / 2e0
                            + {z}e0 * sqrt(count(*)) / 2e0) AS BIGINT)
                       + 1) AS hi_rank
            FROM v GROUP BY seg
        ),
        r AS (
            SELECT seg, cents,
                   row_number() OVER (PARTITION BY seg
                                      ORDER BY cents) AS rn
            FROM v
        )
        SELECT r.seg AS segment, CAST(k.n AS BIGINT) AS n_customers,
               {R("max(CASE WHEN r.rn = k.med_rank THEN r.cents END)"
                  " / 100e0", 2)} AS median_balance,
               {R("max(CASE WHEN r.rn = k.lo_rank THEN r.cents END)"
                  " / 100e0", 2)} AS ci_lo,
               {R("max(CASE WHEN r.rn = k.hi_rank THEN r.cents END)"
                  " / 100e0", 2)} AS ci_hi,
               CAST(k.lo_rank AS BIGINT) AS lo_rank,
               CAST(k.hi_rank AS BIGINT) AS hi_rank
        FROM r JOIN k ON k.seg = r.seg
        GROUP BY r.seg, k.n, k.med_rank, k.lo_rank, k.hi_rank
        ORDER BY segment
    """


def median_ci_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~95% distribution-free CI for the median account balance per
    segment (see _median_ci_sql): the bracket is a pair of order
    statistics, so it is valid for ANY continuous distribution — the
    robust companion to the mean-based intervals that the heavy-tailed
    balance column quietly invalidates.

    Scale shape: one per-segment rank window (the sessionize shuffle
    budget) + one grouped count; the bracket ranks are closed-form from
    n. No resampling, no second pass over the corpus."""
    load_tables(spark, sf_dir)
    return spark.sql(_median_ci_sql())


QUERIES["median_ci_order_stats"] = median_ci_order_stats
ORACLE["median_ci_order_stats"] = _median_ci_sql()


# --- hierarchical forecast reconciliation ---------------------------------------
# Forecasts made independently per node of a hierarchy do not add up:
# the per-nation MEDIAN-of-last-3-months forecast and the per-region
# median disagree because the median is not linear. Top-down
# proportional reconciliation (Hyndman et al., "Optimal combination
# forecasts for hierarchical time series", CSDA 2011 — the classical
# td-forecast-proportions baseline it benchmarks against) restores
# coherence: each nation gets region_forecast x its share of the summed
# nation forecasts, so reconciled children sum to the parent EXACTLY.
HFR_WINDOW = 3  # trailing complete months in the base forecaster


def _hfr_sql(month_expr: str) -> str:
    """Region -> nation top-down reconciliation over order revenue.
    Months rank 2..{HFR_WINDOW}+1 (the max month is excluded as
    potentially partial); the base forecaster is the lower median of the
    trailing window at BOTH levels; everything on the exact cents
    grid."""
    return f"""
        WITH rev AS (
            SELECT r.r_name AS region, n.n_name AS nation,
                   {month_expr} AS mo,
                   sum(CAST(floor(o.o_totalprice * 100e0 + 0.5e0)
                        AS BIGINT)) AS cents
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            JOIN region r ON r.r_regionkey = n.n_regionkey
            GROUP BY 1, 2, {month_expr}
        ),
        mos AS (
            -- bounded window: one row per calendar month
            SELECT mo, row_number() OVER (PARTITION BY (hash(mo) % 1)
                                          ORDER BY mo DESC) AS rnk
            FROM (SELECT DISTINCT mo FROM rev) dm
        ),
        w AS (
            SELECT rev.region, rev.nation, rev.mo, rev.cents
            FROM rev JOIN mos ON mos.mo = rev.mo
            WHERE mos.rnk BETWEEN 2 AND {HFR_WINDOW + 1}
        ),
        nbase AS (
            SELECT region, nation, cents AS base FROM (
                SELECT region, nation, cents,
                       row_number() OVER (PARTITION BY region, nation
                                          ORDER BY cents) AS rn,
                       count(*) OVER (PARTITION BY region, nation) AS k
                FROM w
            ) t WHERE rn = CAST(floor((k + 1) / 2e0) AS BIGINT)
        ),
        rbase AS (
            SELECT region, cents AS rbase FROM (
                SELECT region, cents,
                       row_number() OVER (PARTITION BY region
                                          ORDER BY cents) AS rn,
                       count(*) OVER (PARTITION BY region) AS k
                FROM (SELECT region, mo, sum(cents) AS cents FROM w
                      GROUP BY region, mo) rm
            ) t WHERE rn = CAST(floor((k + 1) / 2e0) AS BIGINT)
        ),
        sh AS (
            SELECT nb.region, nb.nation, nb.base,
                   sum(nb.base) OVER (PARTITION BY nb.region) AS base_sum
            FROM nbase nb
        )
        SELECT sh.region AS region, sh.nation AS nation,
               {R("sh.base / 100e0", 2)} AS base_forecast,
               {R("sh.base * 1e0 / sh.base_sum", 6)} AS share,
               {R("rb.rbase * (sh.base * 1e0 / sh.base_sum) / 100e0", 2)}
                   AS reconciled_forecast,
               {R("rb.rbase / 100e0", 2)} AS region_forecast,
               {R("(sh.base_sum - rb.rbase) / 100e0", 2)}
                   AS coherence_gap
        FROM sh JOIN rbase rb ON rb.region = sh.region
        ORDER BY region, nation
    """


def hierarchical_forecast_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-down proportional reconciliation of per-nation revenue
    forecasts under their region totals (see _hfr_sql): the base median
    forecasts, each nation's share, the reconciled values that sum to
    the parent exactly, and the coherence gap the raw forecasts carried.

    Scale shape: one fact scan into a (nation, month) grouped sum; every
    window after runs on the tiny forecast relations (nations x window
    rows). The reconciliation itself is O(nodes) — the property that
    lets retailers reconcile million-node product hierarchies nightly."""
    load_tables(spark, sf_dir)
    return spark.sql(_hfr_sql("date_format(o.o_orderdate, 'yyyy-MM')"))


QUERIES["hierarchical_forecast_reconciliation"] = (
    hierarchical_forecast_reconciliation
)
ORACLE["hierarchical_forecast_reconciliation"] = _hfr_sql(
    "strftime(o.o_orderdate, '%Y-%m')"
)


# --- newsvendor stocking quantile ---------------------------------------------------
# The newsvendor solution (Arrow, Harris & Marschak, Econometrica 1951):
# with underage cost CU (lost margin) and overage cost CO (holding), the
# optimal stock is the CU/(CU+CO) quantile of demand — NOT the mean, the
# classic planning mistake. Demand is the daily shipped quantity per
# brand; the quantile is an exact order statistic on the integer demand
# grid.
NV_CU = 9   # lost margin per unit short
NV_CO = 1   # holding cost per unit over
# critical ratio CU/(CU+CO) = 0.9


def _newsvendor_sql() -> str:
    q = NV_CU / (NV_CU + NV_CO)
    return f"""
        WITH shipped AS (
            SELECT p.p_brand AS brand, l.l_shipdate AS day,
                   sum(CAST(floor(l.l_quantity + 0.5e0) AS BIGINT)) AS dem
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            GROUP BY p.p_brand, l.l_shipdate
        ),
        -- densify against the brand x observed-calendar-day grid:
        -- zero-demand days are real demand observations, and omitting
        -- them biases the order statistic (and the safety stock) upward
        days AS (SELECT DISTINCT l_shipdate AS day FROM lineitem),
        brands AS (SELECT DISTINCT p_brand AS brand FROM part),
        d AS (
            SELECT b.brand, dy.day, coalesce(s.dem, 0) AS dem
            FROM brands b CROSS JOIN days dy
            LEFT JOIN shipped s ON s.brand = b.brand AND s.day = dy.day
        ),
        r AS (
            SELECT brand, dem,
                   row_number() OVER (PARTITION BY brand
                                      ORDER BY dem) AS rn,
                   count(*) OVER (PARTITION BY brand) AS n,
                   sum(dem) OVER (PARTITION BY brand) AS tot
            FROM d
        )
        SELECT brand, CAST(n AS BIGINT) AS n_days,
               {R("tot * 1e0 / n", 2)} AS mean_daily_demand,
               CAST(dem AS BIGINT) AS order_up_to_level,
               {R("dem - tot * 1e0 / n", 2)} AS safety_stock
        FROM r
        WHERE rn = CAST(ceil({q}e0 * n) AS BIGINT)
        ORDER BY brand
    """


def newsvendor_stock_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal order-up-to stock per brand at the CU={NV_CU}/CO={NV_CO}
    critical ratio (the 0.9 demand quantile as an exact order statistic;
    see _newsvendor_sql), with the mean-demand baseline and the implied
    safety stock — the inventory-planning quantile the mean silently
    understocks.

    Scale shape: one grouped sum builds the (brand, day) demand series,
    densified against the brand x observed-day grid (O(brands x days),
    bounded) so zero-demand days enter the distribution; one per-brand
    rank window selects the order statistic — the sessionize shuffle
    budget, no self-join, no resampling."""
    load_tables(spark, sf_dir)
    return spark.sql(_newsvendor_sql())


QUERIES["newsvendor_stock_levels"] = newsvendor_stock_levels
ORACLE["newsvendor_stock_levels"] = _newsvendor_sql()


# --- Croston intermittent-demand forecast -------------------------------------------
# Per-PART demand is intermittent (a part ships on ~1% of days); simple
# exponential smoothing over such a series chases zeros and collapses.
# Croston (Oper. Res. Q. 1972) smooths demand SIZE and inter-demand
# INTERVAL separately (updates only on demand events) and forecasts
# z/p per period; the Syntetos-Boylan approximation (IJF 2005) corrects
# Croston's positive bias with the (1 - alpha/2) factor. The supply-chain
# companion to newsvendor_stock_levels (which prices the quantile of a
# DENSE brand-level series).
CROSTON_A = "0.1e0"
CROSTON_1MA = "0.9e0"
CROSTON_MIN_EVENTS = 5


def _croston_tail(f: str, one_based: bool) -> str:
    z = f"{f}[{1 if one_based else 0}]"
    p = f"{f}[{2 if one_based else 1}]"
    return f"""
        SELECT pk AS partkey, CAST(n_events AS BIGINT) AS n_demand_days,
               {R(z, 4)} AS smoothed_size,
               {R(p, 4)} AS smoothed_interval,
               {R(f"{z} / {p}", 4)} AS croston_forecast,
               {R(f"(1e0 - {CROSTON_A} / 2e0) * {z} / {p}", 4)}
                   AS sba_forecast
        FROM folded
        WHERE n_events >= {CROSTON_MIN_EVENTS} AND {p} > 0e0
        ORDER BY {R(p, 4)} DESC, pk LIMIT 20
    """


def croston_intermittent_demand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Croston + SBA forecast for the 20 most intermittent parts (largest
    smoothed inter-demand interval, >= {CROSTON_MIN_EVENTS} demand
    events): smoothed size, smoothed interval, and both per-period
    forecasts. alpha = 0.1, classic event-driven updates — the state
    advances only on demand days, zero days enter through the interval.

    Scale shape: one grouped (part, day) sum, then a per-part ordered
    fold over that part's DEMAND EVENTS (array of [epoch_day, qty]
    pairs — O(events-per-part) state, the per-entity budget every
    sessionizer pays; zero days are never materialized, which is what
    makes the intermittent formulation cheaper than densifying). Both
    engines fold the same [z, p, prev_day, n] double accumulator in day
    order, so results are bit-identical; top-20 is TakeOrdered."""
    load_tables(spark, sf_dir)
    fold = f"""
        aggregate(
            array_sort(collect_list(array(
                CAST(datediff(day, DATE '1992-01-01') AS DOUBLE),
                CAST(dem AS DOUBLE)))),
            array(0e0, 0e0, 0e0, 0e0),
            (acc, y) -> CASE
                WHEN acc[3] = 0e0 THEN array(y[1], 0e0, y[0], 1e0)
                WHEN acc[3] = 1e0 THEN array(
                    {CROSTON_A} * y[1] + {CROSTON_1MA} * acc[0],
                    y[0] - acc[2], y[0], 2e0)
                ELSE array(
                    {CROSTON_A} * y[1] + {CROSTON_1MA} * acc[0],
                    {CROSTON_A} * (y[0] - acc[2])
                        + {CROSTON_1MA} * acc[1],
                    y[0], acc[3] + 1e0)
            END)
    """
    return spark.sql(f"""
        WITH d AS (
            SELECT l_partkey AS pk, l_shipdate AS day,
                   sum(CAST(floor(l_quantity + 0.5e0) AS BIGINT)) AS dem
            FROM lineitem GROUP BY l_partkey, l_shipdate
        ),
        folded AS (
            SELECT pk, count(*) AS n_events, {fold} AS f
            FROM d GROUP BY pk
        )
        {_croston_tail("f", one_based=False)}
    """)


QUERIES["croston_intermittent_demand"] = croston_intermittent_demand
ORACLE["croston_intermittent_demand"] = f"""
    WITH d AS (
        SELECT l_partkey AS pk, l_shipdate AS day,
               sum(CAST(floor(l_quantity + 0.5e0) AS BIGINT)) AS dem
        FROM lineitem GROUP BY l_partkey, l_shipdate
    ),
    folded AS (
        SELECT pk, count(*) AS n_events,
               list_reduce(
                   list_prepend(
                       [0e0, 0e0, 0e0, 0e0],
                       list([CAST(datediff('day', DATE '1992-01-01', day)
                                  AS DOUBLE),
                             CAST(dem AS DOUBLE)] ORDER BY day)),
                   (acc, y) -> CASE
                       WHEN acc[4] = 0e0 THEN [y[2], 0e0, y[1], 1e0]
                       WHEN acc[4] = 1e0 THEN [
                           {CROSTON_A} * y[2] + {CROSTON_1MA} * acc[1],
                           y[1] - acc[3], y[1], 2e0]
                       ELSE [
                           {CROSTON_A} * y[2] + {CROSTON_1MA} * acc[1],
                           {CROSTON_A} * (y[1] - acc[3])
                               + {CROSTON_1MA} * acc[2],
                           y[1], acc[4] + 1e0]
                   END) AS f
        FROM d GROUP BY pk
    )
    {_croston_tail("f", one_based=True)}
"""


# --- always-valid sequential A/B monitor (mSPRT) ------------------------------------
# Peeking at a fixed-horizon test inflates false positives; the mixture
# SPRT (Johari, Koomen, Pekelis & Walsh, "Peeking at A/B Tests", KDD'17)
# gives an ALWAYS-VALID p-value: with cumulative effect theta_hat, an
# effective per-arm n, plug-in variance s2 and mixture variance tau2,
#   log Lambda_n = 0.5 ln(s2/(s2 + n tau2))
#                + n^2 tau2 theta_hat^2 / (2 s2 (s2 + n tau2))
# and p_n = min_{m<=n} exp(-log Lambda_m), monotone by construction. The
# monitor emits month-end snapshots of the curve over the md5 A/A split
# (no true effect), so the boundary should not fire.
MSPRT_ALPHA = 0.05
# tau = s (the common scale-free default: mixture as wide as the noise)


def _msprt_sql(month_expr: str, md5arm: str, big) -> str:
    return f"""
        WITH o AS (
            SELECT {month_expr} AS mo, o_orderdate AS day,
                   {md5arm} AS arm,
                   CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT)
                       AS cents
            FROM orders
        ),
        daily AS (
            SELECT mo, day,
                   sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
                   sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
                   sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS s0,
                   sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS s1
            FROM o GROUP BY mo, day
        ),
        pooled AS (
            SELECT count(*) AS n, sum(cents) AS s,
                   CAST(sum({big('cents')} * cents) AS DOUBLE) AS ss
            FROM o
        ),
        cum AS (
            -- bounded window: daily has one row per calendar day
            SELECT mo, day,
                   sum(n0) OVER w AS cn0, sum(n1) OVER w AS cn1,
                   sum(s0) OVER w AS cs0, sum(s1) OVER w AS cs1
            FROM daily
            WINDOW w AS (PARTITION BY (hash(day) % 1) ORDER BY day
                         ROWS UNBOUNDED PRECEDING)
        ),
        snap AS (
            SELECT mo, day, cn0, cn1, cs0, cs1,
                   row_number() OVER (PARTITION BY mo
                                      ORDER BY day DESC) AS rn
            FROM cum
        ),
        lam AS (
            SELECT s.mo, s.cn0, s.cn1,
                   (CAST(s.cs1 AS DOUBLE) / s.cn1
                    - CAST(s.cs0 AS DOUBLE) / s.cn0) / 100e0 AS theta,
                   ((p.ss - CAST(p.s AS DOUBLE) * p.s / p.n) / (p.n - 1))
                       / 10000e0 AS s2,
                   (s.cn0 * 1e0 * s.cn1) / (s.cn0 + s.cn1) AS neff
            FROM snap s CROSS JOIN pooled p
            WHERE s.rn = 1 AND s.cn0 > 0 AND s.cn1 > 0
        ),
        ll AS (
            SELECT mo, cn0, cn1, theta,
                   0.5e0 * ln(s2 / (s2 + neff * s2))
                   + neff * neff * s2 * theta * theta
                     / (2e0 * s2 * (s2 + neff * s2)) AS log_lambda
            FROM lam
        ),
        curve AS (
            -- bounded window: ll has one row per calendar month
            SELECT mo, cn0, cn1, theta, log_lambda,
                   max(log_lambda) OVER (PARTITION BY (hash(mo) % 1)
                       ORDER BY mo ROWS UNBOUNDED PRECEDING) AS run_max
            FROM ll
        )
        SELECT mo AS month, CAST(cn0 AS BIGINT) AS n_arm0,
               CAST(cn1 AS BIGINT) AS n_arm1,
               {R("theta", 4)} AS effect_estimate,
               {R("log_lambda", 6)} AS log_lambda,
               {R("least(1e0, exp(-run_max))", 6)} AS always_valid_p,
               CAST(exp(-run_max) <= {MSPRT_ALPHA} AS INT) AS rejected
        FROM curve
        ORDER BY month
    """


def msprt_ab_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end snapshots of the always-valid mSPRT curve over the md5
    A/A order-value split (see _msprt_sql): cumulative effect, log
    mixture-likelihood-ratio, the monotone always-valid p, and the
    boundary flag — the monitor that makes continuous peeking
    statistically safe.

    Scale shape: one grouped day aggregate (exact cents), one window
    cumsum over the DAY-grain relation (thousands of rows at any corpus
    size), closed-form scoring per snapshot — the corpus is scanned
    once. tau2 = s2 (scale-free mixture default)."""
    load_tables(spark, sf_dir)
    return spark.sql(_msprt_sql(
        "date_format(o_orderdate, 'yyyy-MM')",
        "CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 4),"
        " 16, 10) AS INT) % 2",
        lambda x: f"CAST({x} AS DECIMAL(38, 0))",
    ))


QUERIES["msprt_ab_monitor"] = msprt_ab_monitor
ORACLE["msprt_ab_monitor"] = _msprt_sql(
    "strftime(o_orderdate, '%Y-%m')",
    "CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4))"
    " AS INTEGER) % 2",
    lambda x: f"CAST({x} AS HUGEINT)",
)


# --- O'Brien-Fleming group-sequential monitor ---------------------------------------
# The frequentist group-sequential companion to the always-valid mSPRT:
# at each interim look the O'Brien-Fleming boundary |Z| > C / sqrt(t)
# (t = information fraction) spends almost no alpha early and relaxes to
# ~the nominal critical value at t = 1 (O'Brien & Fleming, Biometrics
# 1979; continuous-monitoring constant C = 2.24 from the Lan-DeMets
# alpha-spending formulation, JASA 1983 — the right constant for a
# monitor with many month-end looks). Early looks need |Z| several
# sigmas out; a monitor that used the nominal 1.96 at every look would
# inflate false positives ~5x over 80 looks.
OBF_C = "2.24e0"


def _obf_sql(month_expr: str, md5arm: str, big) -> str:
    return f"""
        WITH o AS (
            SELECT {month_expr} AS mo, o_orderdate AS day,
                   {md5arm} AS arm,
                   CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT)
                       AS cents
            FROM orders
        ),
        daily AS (
            SELECT mo, day,
                   sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
                   sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
                   sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS s0,
                   sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS s1
            FROM o GROUP BY mo, day
        ),
        pooled AS (
            SELECT count(*) AS n, sum(cents) AS s,
                   CAST(sum({big('cents')} * cents) AS DOUBLE) AS ss
            FROM o
        ),
        cum AS (
            -- bounded window: daily has one row per calendar day
            SELECT mo, day,
                   sum(n0) OVER w AS cn0, sum(n1) OVER w AS cn1,
                   sum(s0) OVER w AS cs0, sum(s1) OVER w AS cs1
            FROM daily
            WINDOW w AS (PARTITION BY (hash(day) % 1) ORDER BY day
                         ROWS UNBOUNDED PRECEDING)
        ),
        snap AS (
            SELECT mo, cn0, cn1, cs0, cs1,
                   row_number() OVER (PARTITION BY mo
                                      ORDER BY day DESC) AS rn
            FROM cum
        ),
        zs AS (
            SELECT s.mo, s.cn0, s.cn1,
                   (CAST(s.cs1 AS DOUBLE) / s.cn1
                    - CAST(s.cs0 AS DOUBLE) / s.cn0)
                   / sqrt(((p.ss - CAST(p.s AS DOUBLE) * p.s / p.n)
                           / (p.n - 1))
                          * (1e0 / s.cn0 + 1e0 / s.cn1)) AS z,
                   (s.cn0 + s.cn1) * 1e0 / p.n AS t
            FROM snap s CROSS JOIN pooled p
            WHERE s.rn = 1 AND s.cn0 > 0 AND s.cn1 > 0
        )
        SELECT mo AS month, CAST(cn0 AS BIGINT) AS n_arm0,
               CAST(cn1 AS BIGINT) AS n_arm1,
               {R("z", 4)} AS z,
               {R("t", 6)} AS info_fraction,
               {R(f"{OBF_C} / sqrt(t)", 4)} AS obf_boundary,
               CAST(abs(z) > {OBF_C} / sqrt(t) AS INT) AS rejected
        FROM zs
        ORDER BY month
    """


def obrien_fleming_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end O'Brien-Fleming interim analyses of the md5 A/A
    order-value split (see _obf_sql): cumulative per-arm counts, the z
    statistic, the information fraction, the OBF boundary C/sqrt(t), and
    the crossing flag — on an A/A split no look should fire, the same
    null-calibration contract as msprt_ab_monitor but with the classical
    group-sequential boundary instead of a mixture likelihood.

    Scale shape: identical budget to mSPRT — one grouped day aggregate
    with exact cents moments, one cumsum window over the day-grain
    relation (calendar-bounded), closed-form scoring per snapshot; the
    corpus is scanned once."""
    load_tables(spark, sf_dir)
    return spark.sql(_obf_sql(
        "date_format(o_orderdate, 'yyyy-MM')",
        "CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 4),"
        " 16, 10) AS INT) % 2",
        lambda x: f"CAST({x} AS DECIMAL(38, 0))",
    ))


QUERIES["obrien_fleming_monitor"] = obrien_fleming_monitor
ORACLE["obrien_fleming_monitor"] = _obf_sql(
    "strftime(o_orderdate, '%Y-%m')",
    "CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4))"
    " AS INTEGER) % 2",
    lambda x: f"CAST({x} AS HUGEINT)",
)


# --- Bayesian A/B on conversion (Beta-Bernoulli posterior) -------------------------
# The Bayesian readout of an A/B conversion test: Beta(1,1) priors, the
# posterior P(p_B > p_A) and a 95% credible interval for the lift. The
# posteriors' first two moments are EXACT Beta moments; the tail
# probability uses the normal approximation of the Beta posteriors —
# the regime where that approximation is tight (posterior counts in the
# thousands) is exactly the at-scale regime, and it is what keeps the
# query O(1) after one grouped pass (the exact P(B>A) sum is
# O(conversions) terms — unbounded at 100 TB). The A&S 26.2.17
# polynomial (|err| < 7.5e-8) evaluates Phi identically in both
# dialects.


def _bayes_ab_sql(md5arm: str) -> str:
    phi = _PHI_UPPER.replace("{z}", "az")
    pexpr = f"CASE WHEN t >= 0e0 THEN 1e0 - ({phi}) ELSE ({phi}) END"
    return f"""
        WITH per_user AS (
            SELECT user_id, {md5arm} AS arm,
                   max(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS converted
            FROM events GROUP BY user_id
        ),
        arms AS (
            SELECT arm, count(*) AS n, sum(converted) AS conv
            FROM per_user GROUP BY arm
        ),
        post AS (
            SELECT
                max(CASE WHEN arm = 0 THEN n END) AS n_a,
                max(CASE WHEN arm = 0 THEN conv END) AS conv_a,
                max(CASE WHEN arm = 1 THEN n END) AS n_b,
                max(CASE WHEN arm = 1 THEN conv END) AS conv_b,
                (1e0 + max(CASE WHEN arm = 0 THEN conv END)) AS aa,
                (1e0 + max(CASE WHEN arm = 0 THEN n END)
                     - max(CASE WHEN arm = 0 THEN conv END)) AS ba,
                (1e0 + max(CASE WHEN arm = 1 THEN conv END)) AS ab,
                (1e0 + max(CASE WHEN arm = 1 THEN n END)
                     - max(CASE WHEN arm = 1 THEN conv END)) AS bb
            FROM arms
        ),
        mom AS (
            SELECT n_a, conv_a, n_b, conv_b,
                   aa / (aa + ba) AS mu_a,
                   ab / (ab + bb) AS mu_b,
                   aa * ba / ((aa + ba) * (aa + ba) * (aa + ba + 1e0))
                       AS var_a,
                   ab * bb / ((ab + bb) * (ab + bb) * (ab + bb + 1e0))
                       AS var_b
            FROM post
        ),
        z AS (
            SELECT n_a, conv_a, n_b, conv_b, mu_a, mu_b, var_a, var_b,
                   (mu_b - mu_a) / sqrt(var_a + var_b) AS t,
                   abs((mu_b - mu_a) / sqrt(var_a + var_b)) AS az
            FROM mom
        ),
        ztt AS (
            SELECT *, 1e0 / (1e0 + 0.2316419e0 * az) AS tt FROM z
        )
        SELECT CAST(n_a AS BIGINT) AS n_a,
               CAST(conv_a AS BIGINT) AS conv_a,
               CAST(n_b AS BIGINT) AS n_b,
               CAST(conv_b AS BIGINT) AS conv_b,
               {R("mu_a", 6)} AS posterior_mean_a,
               {R("mu_b", 6)} AS posterior_mean_b,
               {R(pexpr, 6)} AS prob_b_beats_a,
               {R("mu_b - mu_a", 6)} AS lift_estimate,
               {R(f"mu_b - mu_a - {RATIO_Z95}e0 * sqrt(var_a + var_b)", 6)}
                   AS lift_ci_lo,
               {R(f"mu_b - mu_a + {RATIO_Z95}e0 * sqrt(var_a + var_b)", 6)}
                   AS lift_ci_hi
        FROM ztt
    """


def bayes_ab_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-Bernoulli Bayesian A/B readout of purchase conversion over
    the md5 A/A split (see _bayes_ab_sql): posterior means, P(B > A),
    and the 95% credible interval for the lift — on an A/A split the
    probability should sit near 0.5 and the interval should cover 0.

    Scale shape: ONE grouped per-user pass (map-side combinable), then
    closed-form Beta-moment arithmetic on a 2-row relation. O(1) after
    the scan."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_bayes_ab_sql(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 4),"
        " 16, 10) AS INT) % 2"
    ))


QUERIES["bayes_ab_conversion"] = bayes_ab_conversion
ORACLE["bayes_ab_conversion"] = _bayes_ab_sql(
    "CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 4))"
    " AS INTEGER) % 2"
)


# --- forecast scorecard: MASE + sMAPE backtest --------------------------------------
# Hyndman & Koehler, "Another look at measures of forecast accuracy"
# (IJF 2006): MASE scales the test MAE by the TRAIN one-step naive MAE
# (scale-free, defined even when actuals hit zero — the measure that
# replaced MAPE), sMAPE is the symmetric percentage error. Scored here
# for the three no-parameter baselines every real forecaster must beat:
# naive (yesterday), seasonal-naive (a week ago), train mean. Errors
# are exact cents integers and the per-row sMAPE terms snap to a 1e-9
# integer grid before summing (the logistic_gd_step trick), so every
# reduce is order-free and bit-identical cross-engine.
FC_TEST_DAYS = 28
FC_SEASON = 7


def _fc_sql() -> str:
    meth = []
    for name, fcol in (("naive", "f_naive"), ("seasonal_naive", "f_snaive"),
                       ("train_mean", "f_mean")):
        meth.append(f"""
        SELECT '{name}' AS method,
               sum(abs(y - {fcol})) AS abs_err_cents,
               sum(CAST(floor(2e0 * abs(y - {fcol})
                   / greatest(y + {fcol}, 1) * 1e9 + 0.5e0) AS BIGINT))
                   AS smape_nano
        FROM test WHERE {fcol} IS NOT NULL
        """)
    union = " UNION ALL ".join(meth)
    return f"""
        WITH daily AS (
            SELECT o_orderdate AS day,
                   sum(CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT))
                       AS y
            FROM orders GROUP BY o_orderdate
        ),
        seq AS (
            -- bounded window: daily has one row per calendar day
            SELECT day, y,
                   row_number() OVER w AS rn,
                   lag(y, 1) OVER w AS f_naive,
                   lag(y, {FC_SEASON}) OVER w AS f_snaive
            FROM daily
            WINDOW w AS (PARTITION BY (hash(day) % 1) ORDER BY day)
        ),
        n AS (SELECT count(*) AS n_days FROM daily),
        train AS (SELECT s.* FROM seq s CROSS JOIN n
                  WHERE s.rn <= n.n_days - {FC_TEST_DAYS}),
        trainstat AS (
            SELECT count(*) AS n_train, sum(y) AS s,
                   sum(abs(y - f_naive)) AS naive_abs,
                   sum(CASE WHEN f_naive IS NOT NULL THEN 1 ELSE 0 END)
                       AS n_naive
            FROM train
        ),
        test AS (
            SELECT s.y, s.f_naive, s.f_snaive,
                   CAST(floor(CAST(t.s AS DOUBLE) / t.n_train + 0.5e0)
                        AS BIGINT) AS f_mean
            FROM seq s CROSS JOIN n CROSS JOIN trainstat t
            WHERE s.rn > n.n_days - {FC_TEST_DAYS}
        ),
        scores AS ({union})
        SELECT sc.method,
               CAST({FC_TEST_DAYS} AS BIGINT) AS n_test_days,
               {R("sc.abs_err_cents / (100e0 * " + str(FC_TEST_DAYS) + ")",
                  2)} AS mae,
               {R(f"sc.smape_nano / (1e9 * {FC_TEST_DAYS})", 6)} AS smape,
               {R("sc.abs_err_cents * 1e0 * ts.n_naive"
                  f" / ({FC_TEST_DAYS}e0 * ts.naive_abs)", 4)} AS mase
        FROM scores sc CROSS JOIN trainstat ts
        ORDER BY sc.method
    """


def forecast_scorecard_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE / sMAPE / MAE backtest of the three no-parameter baselines
    on the last {FC_TEST_DAYS} days of daily revenue (see _fc_sql) —
    the scorecard a production forecaster must beat (MASE < 1 means
    beating the one-step naive out of sample).

    Scale shape: one grouped day aggregate with EXACT integer cents;
    lag windows over the calendar-bounded day series (constant
    partition declared); every error reduce is an exact BIGINT sum
    (errors in cents, sMAPE terms on the 1e-9 grid). One corpus scan,
    O(1) output."""
    load_tables(spark, sf_dir)
    return spark.sql(_fc_sql())


QUERIES["forecast_scorecard_mase"] = forecast_scorecard_mase
ORACLE["forecast_scorecard_mase"] = _fc_sql()
