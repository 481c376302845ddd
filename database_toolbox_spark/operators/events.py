"""Batch event-time analytics on the `events` table (SURVEY.md §2.B
streaming-only rows: the reference has zero streaming code — these are the
batch equivalents the driver's fixture demands; Structured Streaming variants
live in database_toolbox_spark/streaming/).

Covers: JSON extraction from the `props` column (from_json/get_json_object —
engines wrapped by the reference all parse JSON), tumbling/sliding windows
(`F.window`), session windows (`F.session_window`), and dedup
(`dropDuplicates`).

Scale notes: window aggregation groups shuffle on (window, key) — naturally
parallel; session windows shuffle on user_id. No unpartitioned state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_toolbox_spark.functions import canon_round, money
from database_toolbox_spark.operators._oracle import R
from database_toolbox_spark.session import load_table, materialize


def event_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction: props is a JSON text column; pull $.k as int and
    aggregate per event type."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(k).alias("sum_k"),
            canon_round(F.avg(k), 4).alias("avg_k"),
            money(F.sum("value")).alias("sum_value"),
        )
        .orderBy("event_type")
    )


def hourly_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), money(F.sum("value")).alias("sum_value"))
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("hour_start", "event_type")
    )


def sliding_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 2-hour length, 1-hour slide — each event lands in two
    windows."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), money(F.sum("value")).alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "n", "sum_value")
        .orderBy("win_start")
    )


def user_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows: per user, sessions close after a 10-minute gap.
    `F.session_window` start = first event ts in the session."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "10 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"), money(F.sum("value")).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


def event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on event_id: double the stream (union all with itself),
    dropDuplicates restores one row per id — counts must equal the original
    (SURVEY.md §2.B stateful dedup → batch `dropDuplicates`)."""
    ev = load_table(spark, sf_dir, "events")
    doubled = ev.unionAll(ev)
    return (
        doubled.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type")
    )


def gapfilled_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filling: generate the full hour spine between min and max event
    time (sequence + explode), left-join actual hourly counts, fill zeros —
    the time-series densification every warehouse does before charting."""
    load_table(spark, sf_dir, "events")
    return spark.sql("""
        WITH bounds AS (
            SELECT date_trunc('hour', min(ts)) AS lo,
                   date_trunc('hour', max(ts)) AS hi
            FROM events
        ),
        spine AS (
            SELECT explode(sequence(lo, hi, INTERVAL 1 HOUR)) AS hour_start
            FROM bounds
        ),
        actual AS (
            SELECT date_trunc('hour', ts) AS hour_start, count(*) AS n
            FROM events GROUP BY 1
        )
        SELECT s.hour_start,
               coalesce(a.n, 0) AS n,
               CAST(a.n IS NULL AS INT) AS was_gap
        FROM spine s LEFT JOIN actual a ON s.hour_start = a.hour_start
        ORDER BY s.hour_start
    """)


def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day: distinct-over-running-window is
    intractable directly; the scalable rewrite is first-seen-day per user →
    daily new-user counts → running sum."""
    load_table(spark, sf_dir, "events")
    return spark.sql("""
        WITH first_seen AS (
            SELECT user_id, CAST(min(ts) AS DATE) AS first_day
            FROM events GROUP BY user_id
        ),
        daily_new AS (
            SELECT first_day AS day, count(*) AS new_users
            FROM first_seen GROUP BY first_day
        )
        -- hash%1 partition: constant — daily series is bounded; declares
        -- the single partition intentional (see stats._ANOMALY_SQL)
        SELECT day, new_users,
               sum(new_users) OVER (PARTITION BY (hash(day) % 1) ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumulative_users
        FROM daily_new ORDER BY day
    """)


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted per
    day-offset from their cohort start."""
    load_table(spark, sf_dir, "events")
    return spark.sql("""
        WITH first_seen AS (
            SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT e.user_id, f.cohort_day,
                   datediff(CAST(e.ts AS DATE), f.cohort_day) AS day_offset
            FROM events e JOIN first_seen f ON e.user_id = f.user_id
        )
        SELECT cohort_day, day_offset, count(*) AS n_users
        FROM activity
        GROUP BY cohort_day, day_offset
        ORDER BY cohort_day, day_offset
    """)


_FUNNEL_SQL = """
        WITH v AS (
            SELECT user_id, min(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t_view
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, min(e.ts) AS t_buy
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM v) AS n_viewed,
               (SELECT count(*) FROM c) AS n_clicked,
               (SELECT count(*) FROM p) AS n_purchased,
               floor((SELECT count(*) FROM c) * 1e0
                     / (SELECT count(*) FROM v) * 10000 + 0.501e0) / 10000e0
                   AS click_rate,
               floor((SELECT count(*) FROM p) * 1e0
                     / (SELECT count(*) FROM c) * 10000 + 0.501e0) / 10000e0
                   AS purchase_rate
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-stage funnel (view → click after → purchase after) — the
    sequence-matching shape warehouses run for conversion analysis.

    Single-scan shape (the oracle keeps the staged-join spelling
    `_FUNNEL_SQL`, whose CTE inlining re-aggregates each stage up to 5× —
    14 events scans in the physical plan, wrong at 100 TB): ONE pass over
    the three funnel event types groups per user (first view timestamp +
    the click/purchase timestamp lists), and the ordered-stage conditions
    become array folds over those per-user lists — `array_min(filter(...))`
    is order-insensitive, so collect_list nondeterminism cannot leak.
    Identical output; one scan, one shuffle."""
    load_table(spark, sf_dir, "events")
    return spark.sql("""
        WITH per_user AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   collect_list(CASE WHEN event_type = 'click' THEN ts END)
                       AS clicks,
                   collect_list(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS buys
            FROM events
            WHERE event_type IN ('view', 'click', 'purchase')
            GROUP BY user_id
        ),
        staged AS (
            SELECT user_id, t_view, buys,
                   array_min(filter(clicks,
                       t -> t_view IS NOT NULL AND t > t_view)) AS t_click
            FROM per_user
        ),
        final AS (
            SELECT count(t_view) AS n_viewed,
                   count(t_click) AS n_clicked,
                   count(array_min(filter(buys,
                       t -> t_click IS NOT NULL AND t > t_click)))
                       AS n_purchased
            FROM staged
        )
        SELECT n_viewed, n_clicked, n_purchased,
               floor(n_clicked * 1e0 / n_viewed * 10000 + 0.501e0) / 10000e0
                   AS click_rate,
               floor(n_purchased * 1e0 / n_clicked * 10000 + 0.501e0) / 10000e0
                   AS purchase_rate
        FROM final
    """)


def funnel_conversion_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-budgeted funnel: view → click WITHIN 1 HOUR → purchase WITHIN
    1 HOUR of the click — the realistic conversion window (the unbounded
    funnel_conversion credits a purchase weeks later).

    Same single-scan shape as funnel_conversion (one pass, one shuffle,
    per-user array folds — order-insensitive so collect_list
    nondeterminism cannot leak); the step budget is just an extra
    predicate inside each fold. Oracle keeps the staged-join spelling."""
    load_table(spark, sf_dir, "events")
    return spark.sql("""
        WITH per_user AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   collect_list(CASE WHEN event_type = 'click' THEN ts END)
                       AS clicks,
                   collect_list(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS buys
            FROM events
            WHERE event_type IN ('view', 'click', 'purchase')
            GROUP BY user_id
        ),
        staged AS (
            SELECT user_id, t_view, buys,
                   array_min(filter(clicks,
                       t -> t_view IS NOT NULL AND t > t_view
                            AND t <= t_view + INTERVAL 1 HOUR)) AS t_click
            FROM per_user
        ),
        final AS (
            SELECT count(t_view) AS n_viewed,
                   count(t_click) AS n_clicked,
                   count(array_min(filter(buys,
                       t -> t_click IS NOT NULL AND t > t_click
                            AND t <= t_click + INTERVAL 1 HOUR)))
                       AS n_purchased
            FROM staged
        )
        SELECT n_viewed, n_clicked, n_purchased,
               floor(n_clicked * 1e0 / n_viewed * 10000 + 0.501e0) / 10000e0
                   AS click_rate,
               floor(n_purchased * 1e0 / n_clicked * 10000 + 0.501e0)
                   / 10000e0 AS purchase_rate
        FROM final
    """)


def interpolated_hourly_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly avg(value) with gaps filled by LINEAR INTERPOLATION between
    the neighboring present hours (time-weighted), edges clamped — the
    time-series densification step before ML featurization. Forward/backward
    non-null propagation via last()/first() IGNORE NULLS window frames; the
    spine join keeps it one pass over the data."""
    load_table(spark, sf_dir, "events")
    return spark.sql("""
        WITH bounds AS (
            SELECT date_trunc('hour', min(ts)) AS lo,
                   date_trunc('hour', max(ts)) AS hi
            FROM events
        ),
        spine AS (
            SELECT explode(sequence(lo, hi, INTERVAL 1 HOUR)) AS hour_start
            FROM bounds
        ),
        actual AS (
            SELECT date_trunc('hour', ts) AS hour_start, avg(value) AS v
            FROM events GROUP BY 1
        ),
        joined AS (
            SELECT s.hour_start, a.v,
                   unix_timestamp(s.hour_start) AS h
            FROM spine s LEFT JOIN actual a ON s.hour_start = a.hour_start
        ),
        ctx AS (
            -- hash%1 partition: constant — the hourly spine is bounded;
            -- declares the single partition intentional
            SELECT hour_start, v, h,
                   last(v, true)  OVER wb AS pv,
                   last(CASE WHEN v IS NOT NULL THEN h END, true)
                       OVER wb AS ph,
                   first(v, true) OVER wf AS nv,
                   first(CASE WHEN v IS NOT NULL THEN h END, true)
                       OVER wf AS nh
            FROM joined
            WINDOW wb AS (PARTITION BY (hash(h) % 1) ORDER BY h
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wf AS (PARTITION BY (hash(h) % 1) ORDER BY h
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT hour_start,
               floor((CASE
                   WHEN v IS NOT NULL THEN v
                   WHEN pv IS NULL THEN nv
                   WHEN nv IS NULL THEN pv
                   ELSE pv + (nv - pv) * (h - ph) * 1e0 / (nh - ph)
               END) * 10000 + 0.501e0) / 10000e0 AS value_interp,
               CAST(v IS NULL AS INT) AS was_gap
        FROM ctx
        ORDER BY hour_start
    """)


_TRENDING_SQL = """
        WITH weekly AS (
            SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
                   event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        ),
        ranked AS (
            SELECT wk, event_type, n,
                   CAST(row_number() OVER (PARTITION BY wk
                        ORDER BY n DESC, event_type) AS INT) AS pos
            FROM weekly
        )
        SELECT wk, pos, event_type, n
        FROM ranked WHERE pos <= 3
        ORDER BY wk, pos
"""


def trending_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly trending top-3 event types — windowed heavy-hitters, ranked
    within each period partition (scales: the rank window partitions by
    week, never a global sort). Identical SQL on both engines."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_TRENDING_SQL)


def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (Spark 4): props is
    parsed ONCE into the shredded binary form, then typed paths are
    extracted — at scale this beats per-expression string re-parsing
    (get_json_object re-parses the text for every extraction). Oracle uses
    DuckDB's native JSON path extraction on the same column."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_v")
    return spark.sql("""
        WITH typed AS (
            SELECT event_type,
                   variant_get(parse_json(props), '$.k', 'long') AS k
            FROM events_v
        )
        SELECT event_type,
               count(*) AS n,
               sum(k) AS sum_k,
               min(k) AS min_k,
               max(k) AS max_k,
               count(*) FILTER (WHERE k >= 50) AS n_high
        FROM typed
        GROUP BY event_type
        ORDER BY event_type
    """)


_TRANSITIONS_SQL = """
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev_type
            FROM events
        )
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM seq
        WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
        ORDER BY prev_type, next_type
"""


def event_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (Markov bigram counts): one
    partitioned lag window + one grouped count — the path-analysis shape,
    partition-local until the final small aggregation. Identical SQL on
    both engines."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_TRANSITIONS_SQL)


_ACTIVITY_HIST_SQL = """
        WITH per_user AS (
            SELECT user_id, count(*) AS n_events
            FROM events GROUP BY user_id
        )
        SELECT CAST(length(bin(n_events)) - 1 AS BIGINT) AS log2_bucket,
               count(*) AS n_users,
               min(n_events) AS min_events,
               max(n_events) AS max_events
        FROM per_user
        GROUP BY CAST(length(bin(n_events)) - 1 AS BIGINT)
        ORDER BY log2_bucket
"""


def user_activity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law activity check: users bucketed by floor(log2(events)) —
    the engagement-distribution histogram (heavy-tailed user activity is
    the norm; a missing tail flags bot filtering or capped logging).

    The log2 bucket is computed EXACTLY as binary digit count
    (length(bin(n)) - 1, identical in both engines) — floor(ln(n)/ln(2))
    flips at powers of two under libm ulp differences. Two shrinking
    grouped aggregates, all keyed. Identical SQL on both engines."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_ACTIVITY_HIST_SQL)


_NEW_RETURNING_SQL = """
        WITH first_seen AS (
            SELECT user_id, CAST(min(ts) AS DATE) AS first_day
            FROM events GROUP BY user_id
        ),
        daily AS (
            SELECT DISTINCT e.user_id, CAST(e.ts AS DATE) AS day,
                   f.first_day
            FROM events e JOIN first_seen f ON e.user_id = f.user_id
        )
        SELECT day,
               CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN day > first_day THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_returning
        FROM daily
        GROUP BY day
        ORDER BY day
"""


def new_vs_returning_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into new (first-ever-seen that day) vs
    returning — the growth-accounting report on top of the first-seen table
    cumulative_unique_users also uses.

    Scale shape: first-seen is one grouped min per user; the daily split
    re-joins it on user_id (both sides user-keyed) and distinct-counts per
    (user, day) before the day rollup. All shuffles keyed; no windows.
    Identical SQL on both engines."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_NEW_RETURNING_SQL)


_MARKOV_SQL = f"""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev_type
            FROM events
        ),
        trans AS (
            SELECT prev_type, event_type AS next_type, count(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type
        ),
        probs AS (
            SELECT prev_type, next_type, n,
                   {R("n * 1e0 / sum(n) OVER (PARTITION BY prev_type)", 6)}
                       AS p_next,
                   row_number() OVER (PARTITION BY prev_type
                       ORDER BY n DESC, next_type) AS rk
            FROM trans
        )
        SELECT prev_type, next_type, n, p_next,
               CAST(rk AS INT) AS rk
        FROM probs
        WHERE rk <= 3
        ORDER BY prev_type, rk
"""


def markov_next_event_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov model of the event stream: per current event
    type, the top-3 most likely next types with conditional probabilities
    — the predictive summary distilled from event_transition_counts' raw
    matrix.

    Scale shape: the lag window partitions by user; the transition count
    groups on a type-pair domain (bounded); normalization and ranking are
    windows over that tiny matrix, partitioned by prev_type. Identical SQL
    on both engines."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_MARKOV_SQL)


# Shared funnel-pair scaffolding for the attribution family: the stage
# derivation, equi-join and 7-DAY qualifying window live ONCE; each model
# contributes only its pair columns and credit expression (the documented
# invariant that all models split credit over the same qualifying clicks).
_ATTR_PAIRS_CTES = """
        WITH clicks AS (
            SELECT user_id, event_id AS click_id, ts AS click_ts
            FROM events WHERE event_type = 'click'
        ),
        purch AS (
            SELECT user_id, event_id AS purchase_id, ts AS p_ts
            FROM events WHERE event_type = 'purchase'
        ),
        pairs AS (
            SELECT p.purchase_id, c.click_id, c.click_ts{pair_cols}
            FROM purch p JOIN clicks c
              ON p.user_id = c.user_id
             AND c.click_ts <= p.p_ts
             AND c.click_ts > p.p_ts - INTERVAL 7 DAY
        )"""


def _attribution_sql(pair_cols: str, credit: str, credit_out: str) -> str:
    return f"""{_ATTR_PAIRS_CTES.format(pair_cols=pair_cols)},
        credited AS (
            SELECT purchase_id, click_id, click_ts,
                   {credit} AS credit
            FROM pairs
        )
        SELECT CAST(click_ts AS DATE) AS day,
               count(*) AS n_credited_clicks,
               {credit_out} AS total_credit
        FROM credited
        GROUP BY CAST(click_ts AS DATE)
        ORDER BY day
"""


_ATTRIBUTION_SQL = _attribution_sql(
    pair_cols="",
    credit="1e0 / count(*) OVER (PARTITION BY purchase_id)",
    credit_out=R("sum(credit)", 4),
)


def linear_attribution_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution: each purchase splits one unit of
    credit equally across the same user's clicks in the 7 days up to the
    purchase; credit is then rolled up by click day — the marketing-
    attribution report (total_credit over all days = purchases that had at
    least one qualifying click).

    Scale shape: the click×purchase match is an equi-join ON user_id with
    the 7-day window as a residual predicate (stays a hash join — per-key
    fan-out is one user's activity, never a cross product); the credit
    split is a window COUNT partitioned by purchase_id; the rollup groups
    on day. Every shuffle is keyed. Identical SQL on both engines."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_ATTRIBUTION_SQL)


_ENTRY_REPORT_SQL = f"""
        WITH gaps AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts > lag(ts) OVER w + INTERVAL 10 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, event_type, ts, event_id,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sess_id
            FROM gaps
        ),
        flagged AS (
            SELECT user_id, sess_id,
                   first_value(event_type) OVER (
                       PARTITION BY user_id, sess_id ORDER BY ts, event_id)
                       AS entry_type
            FROM sessions
        ),
        per_session AS (
            SELECT user_id, sess_id, entry_type, count(*) AS n_events
            FROM flagged GROUP BY user_id, sess_id, entry_type
        )
        SELECT entry_type,
               count(*) AS n_sessions,
               CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_bounces,
               {R("sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)"
                  " * 1e2 / count(*)", 4)} AS bounce_rate_pct,
               {R("avg(n_events)", 4)} AS avg_session_events
        FROM per_session
        GROUP BY entry_type
        ORDER BY entry_type
"""


def session_entry_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-point analysis over 10-minute-gap sessions: per first-event
    type, session count, bounce rate (single-event sessions) and mean
    session length — the landing-page report next to event_path_topk's
    journey paths.

    Scale shape: reuses the lag-gap sessionization (windows partitioned by
    user_id), tags each session's entry via first_value over the
    (user, session) partition, and re-aggregates twice on shrinking keys
    (session table → entry-type domain). No global window, no sort beyond
    the final tiny result. Identical SQL on both engines."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_ENTRY_REPORT_SQL)


def event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 early user journeys: each user's first five event types (by
    ts, event_id) joined into a `>`-separated path, counted across users.

    The classic product-analytics "paths" report. Scale shape: the
    row_number window partitions by user_id (partition-local state), the
    per-user path build is one grouped fold over ≤5 rows, and the final
    heavy-hitter count groups on the path string — all shuffles are keyed;
    the top-10 is TakeOrderedAndProject, never a global sort. Ordered
    assembly uses array_sort over (rn, type) structs — no reliance on
    collect_list ordering, which Spark does not guarantee after a shuffle.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(10)
    )


_PCT_BANDS_SQL = """
    WITH d AS (SELECT CAST(ts AS DATE) AS day, value AS v FROM events)
    SELECT day, count(*) AS n,
           {p50} AS p50, {p90} AS p90, {p99} AS p99,
           {mx} AS max_v
    FROM d GROUP BY day ORDER BY day
"""


def daily_value_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily P50/P90/P99/max bands of the event value — the SLO/latency
    dashboard query of an observability pipeline, as one grouped exact
    ordered-set aggregate per day (each day's state is its own value
    list — partition-bounded, shuffle on the day key only; for unbounded
    cardinalities the KLL-sketch operator is the mergeable form)."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_PCT_BANDS_SQL.format(
        p50=R("percentile(v, 0.5e0)", 4),
        p90=R("percentile(v, 0.9e0)", 4),
        p99=R("percentile(v, 0.99e0)", 4),
        mx=R("max(v)", 4),
    ))


QUERIES = {
    "daily_value_percentile_bands": daily_value_percentile_bands,
    "event_json_stats": event_json_stats,
    "event_path_topk": event_path_topk,
    "session_entry_report": session_entry_report,
    "linear_attribution_by_day": linear_attribution_by_day,
    "new_vs_returning_users_daily": new_vs_returning_users_daily,
    "user_activity_histogram": user_activity_histogram,
    "markov_next_event_probs": markov_next_event_probs,
    "funnel_conversion": funnel_conversion,
    "funnel_conversion_1h": funnel_conversion_1h,
    "trending_event_types": trending_event_types,
    "event_transition_counts": event_transition_counts,
    "variant_props_stats": variant_props_stats,
    "interpolated_hourly_values": interpolated_hourly_values,
    "gapfilled_hourly_counts": gapfilled_hourly_counts,
    "cumulative_unique_users": cumulative_unique_users,
    "cohort_retention": cohort_retention,
    "hourly_event_windows": hourly_event_windows,
    "sliding_event_windows": sliding_event_windows,
    "user_session_windows": user_session_windows,
    "event_dedup": event_dedup,
}

ORACLE = {
    "daily_value_percentile_bands": _PCT_BANDS_SQL.format(
        p50=R("quantile_cont(v, 0.5e0)", 4),
        p90=R("quantile_cont(v, 0.9e0)", 4),
        p99=R("quantile_cont(v, 0.99e0)", 4),
        mx=R("max(v)", 4),
    ),
    "funnel_conversion": _FUNNEL_SQL,
    "funnel_conversion_1h": """
        WITH v AS (
            SELECT user_id, min(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t_view
              AND e.ts <= v.t_view + INTERVAL 1 HOUR
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, min(e.ts) AS t_buy
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
              AND e.ts <= c.t_click + INTERVAL 1 HOUR
            GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM v) AS n_viewed,
               (SELECT count(*) FROM c) AS n_clicked,
               (SELECT count(*) FROM p) AS n_purchased,
               floor((SELECT count(*) FROM c) * 1e0
                     / (SELECT count(*) FROM v) * 10000 + 0.501e0) / 10000e0
                   AS click_rate,
               floor((SELECT count(*) FROM p) * 1e0
                     / (SELECT count(*) FROM c) * 10000 + 0.501e0) / 10000e0
                   AS purchase_rate
    """,
    "session_entry_report": _ENTRY_REPORT_SQL,
    "linear_attribution_by_day": _ATTRIBUTION_SQL,
    "new_vs_returning_users_daily": _NEW_RETURNING_SQL,
    "user_activity_histogram": _ACTIVITY_HIST_SQL,
    "markov_next_event_probs": _MARKOV_SQL,
    "event_path_topk": """
        WITH seq AS (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS rn
            FROM events
        ),
        paths AS (
            SELECT user_id,
                   string_agg(event_type, '>' ORDER BY rn) AS path
            FROM seq WHERE rn <= 5 GROUP BY user_id
        )
        SELECT path, count(*) AS n_users
        FROM paths GROUP BY path
        ORDER BY n_users DESC, path
        LIMIT 10
    """,
    "trending_event_types": _TRENDING_SQL,
    "event_transition_counts": _TRANSITIONS_SQL,
    "variant_props_stats": """
        WITH typed AS (
            SELECT event_type,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS k
            FROM events
        )
        SELECT event_type,
               count(*) AS n,
               -- CAST: DuckDB SUM(BIGINT) yields HUGEINT, which pandas
               -- renders as float64 and breaks the driver's value hash
               CAST(sum(k) AS BIGINT) AS sum_k,
               min(k) AS min_k,
               max(k) AS max_k,
               count(*) FILTER (WHERE k >= 50) AS n_high
        FROM typed
        GROUP BY event_type
        ORDER BY event_type
    """,
    "interpolated_hourly_values": """
        WITH bounds AS (
            SELECT date_trunc('hour', min(ts)) AS lo,
                   date_trunc('hour', max(ts)) AS hi
            FROM events
        ),
        spine AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
            FROM bounds
        ),
        actual AS (
            SELECT date_trunc('hour', ts) AS hour_start, avg(value) AS v
            FROM events GROUP BY 1
        ),
        joined AS (
            SELECT s.hour_start, a.v,
                   epoch(s.hour_start) AS h
            FROM spine s LEFT JOIN actual a ON s.hour_start = a.hour_start
        ),
        ctx AS (
            SELECT hour_start, v, h,
                   last_value(v IGNORE NULLS) OVER (ORDER BY h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS pv,
                   last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                       OVER (ORDER BY h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS ph,
                   first_value(v IGNORE NULLS) OVER (ORDER BY h
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS nv,
                   first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                       OVER (ORDER BY h
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS nh
            FROM joined
        )
        SELECT hour_start,
               floor((CASE
                   WHEN v IS NOT NULL THEN v
                   WHEN pv IS NULL THEN nv
                   WHEN nv IS NULL THEN pv
                   ELSE pv + (nv - pv) * (h - ph) * 1e0 / (nh - ph)
               END) * 10000 + 0.501e0) / 10000e0 AS value_interp,
               CAST(v IS NULL AS INT) AS was_gap
        FROM ctx
        ORDER BY hour_start
    """,
    "gapfilled_hourly_counts": """
        WITH bounds AS (
            SELECT date_trunc('hour', min(ts)) AS lo,
                   date_trunc('hour', max(ts)) AS hi
            FROM events
        ),
        spine AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
            FROM bounds
        ),
        actual AS (
            SELECT date_trunc('hour', ts) AS hour_start, count(*) AS n
            FROM events GROUP BY 1
        )
        SELECT s.hour_start,
               coalesce(a.n, 0) AS n,
               CAST(a.n IS NULL AS INT) AS was_gap
        FROM spine s LEFT JOIN actual a ON s.hour_start = a.hour_start
        ORDER BY s.hour_start
    """,
    "cumulative_unique_users": """
        WITH first_seen AS (
            SELECT user_id, CAST(min(ts) AS DATE) AS first_day
            FROM events GROUP BY user_id
        ),
        daily_new AS (
            SELECT first_day AS day, count(*) AS new_users
            FROM first_seen GROUP BY first_day
        )
        -- CAST: DuckDB windowed SUM(BIGINT) yields HUGEINT → pandas float64,
        -- which breaks the driver's value hash against Spark's BIGINT
        SELECT day, new_users,
               CAST(sum(new_users) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cumulative_users
        FROM daily_new ORDER BY day
    """,
    "cohort_retention": """
        WITH first_seen AS (
            SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT e.user_id, f.cohort_day,
                   CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE))
                        AS INT) AS day_offset
            FROM events e JOIN first_seen f ON e.user_id = f.user_id
        )
        SELECT cohort_day, day_offset, count(*) AS n_users
        FROM activity
        GROUP BY cohort_day, day_offset
        ORDER BY cohort_day, day_offset
    """,
    "event_json_stats": f"""
        SELECT event_type,
               count(*)                                          AS n,
               CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
               {R("avg(CAST(props->>'$.k' AS BIGINT))", 4)}      AS avg_k,
               {R("sum(value)")}                                 AS sum_value
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "hourly_event_windows": f"""
        SELECT date_trunc('hour', ts)  AS hour_start,
               event_type,
               count(*)                AS n,
               {R("sum(value)")}       AS sum_value
        FROM events
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "sliding_event_windows": f"""
        WITH assigned AS (
            SELECT date_trunc('hour', ts) AS win_start, value FROM events
            UNION ALL
            SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, value FROM events
        )
        SELECT win_start, count(*) AS n, {R("sum(value)")} AS sum_value
        FROM assigned GROUP BY win_start ORDER BY win_start
    """,
    "user_session_windows": f"""
        WITH gaps AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL 10 MINUTE
                        OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ), sessions AS (
            SELECT user_id, ts, value,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
            FROM gaps
        )
        SELECT user_id,
               min(ts)            AS session_start,
               count(*)           AS n_events,
               {R("sum(value)")}  AS sum_value
        FROM sessions
        GROUP BY user_id, sess_id
        ORDER BY user_id, session_start
    """,
    "event_dedup": """
        WITH doubled AS (
            SELECT * FROM events UNION ALL SELECT * FROM events
        ), dedup AS (
            SELECT DISTINCT ON (event_id) * FROM doubled
        )
        SELECT event_type, count(*) AS n
        FROM dedup GROUP BY event_type ORDER BY event_type
    """,
}


def _decay_attr_sql(p_us: str, c_us: str) -> str:
    return _attribution_sql(
        pair_cols=(",\n                   exp(-(("
                   f"{p_us} - {c_us}) / 86400e6)) AS w"),
        credit="w / sum(w) OVER (PARTITION BY purchase_id)",
        credit_out=R("sum(credit)", 4),
    )


def time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch TIME-DECAY attribution (exponential, 1-day constant):
    recent clicks earn exponentially more of each purchase's unit of
    credit than week-old ones — the recency-weighted sibling of
    linear_attribution_by_day (same join/window/rollup plan shape; only
    the credit formula changes, which is the point: attribution models
    are one expression swap in a declarative plan).

    Δt computes from microsecond epochs (exact integers in both
    engines, so exp() sees identical doubles); per-purchase
    normalization is a keyed window; day rollup canon-rounds the
    credit sum."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_decay_attr_sql(
        p_us="unix_micros(CAST(p.p_ts AS TIMESTAMP))",
        c_us="unix_micros(CAST(c.click_ts AS TIMESTAMP))",
    ))


QUERIES["time_decay_attribution"] = time_decay_attribution
ORACLE["time_decay_attribution"] = _decay_attr_sql(
    p_us="epoch_us(p.p_ts)",
    c_us="epoch_us(c.click_ts)",
)


_KM_SQL = """
    WITH per_user AS (
        SELECT user_id,
               min(ts) AS t0,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_ev,
               max(ts) AS t_last
        FROM events GROUP BY user_id
    ),
    dur AS (
        SELECT CASE WHEN t_ev IS NOT NULL THEN {dd_ev} ELSE {dd_last} END
                   AS d,
               CASE WHEN t_ev IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM per_user
    ),
    hist AS (
        SELECT d, CAST(sum(ev) AS BIGINT) AS deaths, count(*) AS leaving
        FROM dur GROUP BY d
    ),
    tot AS (SELECT count(*) AS n FROM dur),
    curve AS (
        -- bounded window: hist has one row per duration-day grid value
        SELECT d, deaths,
               t.n - coalesce(sum(leaving) OVER (
                   PARTITION BY (hash(d) % 1) ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS at_risk
        FROM hist CROSS JOIN tot t
    ),
    km AS (
        SELECT d, deaths, at_risk,
               exp(sum(ln(greatest(1e0 - deaths * 1e0 / at_risk, 1e-12)))
                   OVER (PARTITION BY (hash(d) % 1) ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   AS s
        FROM curve
    )
    SELECT d AS day_offset, deaths,
           CAST(at_risk AS BIGINT) AS at_risk, {s_out} AS survival
    FROM km
    WHERE deaths > 0
    ORDER BY day_offset
"""


def kaplan_meier_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase: users who
    never purchase are right-CENSORED at their last observed event —
    the estimator that naive "conversion by day N" reports get wrong
    (dropping censored users biases conversion up; counting them as
    never-converting biases it down).

    Scale shape: one per-user aggregate reduces the event stream to a
    duration histogram whose length is bounded by the observation
    window (days), so the cumulative at-risk and product-limit windows
    run over a calendar-bounded series (hash%1 declares the single
    partition intentional — same guard as the daily z-score). The
    product is computed as exp(Σ ln·) with an epsilon floor so a
    terminal all-deaths step stays finite in both engines (DuckDB
    ln(0) raises; survival ≈ 0 is reported as ~1e-12·)."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_KM_SQL.format(
        dd_ev="datediff(CAST(t_ev AS DATE), CAST(t0 AS DATE))",
        dd_last="datediff(CAST(t_last AS DATE), CAST(t0 AS DATE))",
        s_out=R("s", 6),
    ))


QUERIES["kaplan_meier_purchase"] = kaplan_meier_purchase
ORACLE["kaplan_meier_purchase"] = _KM_SQL.format(
    dd_ev="date_diff('day', CAST(t0 AS DATE), CAST(t_ev AS DATE))",
    dd_last="date_diff('day', CAST(t0 AS DATE), CAST(t_last AS DATE))",
    s_out=R("s", 6),
)


_FUNNEL_LATENCY_SQL = """
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_buy
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    ),
    lat AS (
        SELECT 'view_to_click' AS stage,
               ({us_click} - {us_view}) / 60e6 AS minutes
        FROM c JOIN v ON v.user_id = c.user_id
        UNION ALL
        SELECT 'click_to_purchase',
               ({us_buy} - {us_click2}) / 60e6
        FROM p JOIN c ON c.user_id = p.user_id
    )
    SELECT stage, count(*) AS n_users,
           {p50} AS p50_minutes, {p90} AS p90_minutes,
           {mx} AS max_minutes
    FROM lat GROUP BY stage ORDER BY stage
"""


def funnel_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long each funnel transition takes: P50/P90/max minutes from
    first view→first qualifying click and click→purchase — the timing
    companion to funnel_conversion's counting (a funnel can convert
    well but too slowly to attribute, which is why the attribution
    operators cap their windows).

    Reuses the funnel's stage derivation (per-user min-aggregates +
    ordered joins); latencies come from exact µs epochs so both
    engines interpolate identical doubles; one ordered-set aggregate
    per stage."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_FUNNEL_LATENCY_SQL.format(
        us_click="unix_micros(CAST(c.t_click AS TIMESTAMP))",
        us_view="unix_micros(CAST(v.t_view AS TIMESTAMP))",
        us_buy="unix_micros(CAST(p.t_buy AS TIMESTAMP))",
        us_click2="unix_micros(CAST(c.t_click AS TIMESTAMP))",
        p50=R("percentile(minutes, 0.5e0)", 4),
        p90=R("percentile(minutes, 0.9e0)", 4),
        mx=R("max(minutes)", 4),
    ))


QUERIES["funnel_latency_percentiles"] = funnel_latency_percentiles
ORACLE["funnel_latency_percentiles"] = _FUNNEL_LATENCY_SQL.format(
    us_click="epoch_us(c.t_click)",
    us_view="epoch_us(v.t_view)",
    us_buy="epoch_us(p.t_buy)",
    us_click2="epoch_us(c.t_click)",
    p50=R("quantile_cont(minutes, 0.5e0)", 4),
    p90=R("quantile_cont(minutes, 0.9e0)", 4),
    mx=R("max(minutes)", 4),
)


MARKOV_SQUARINGS = 6  # P^64 — far past mixing for a dense 5-type chain

_MARKOV_P0_SQL = """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ),
    rowsum AS (SELECT prev_type, sum(n) AS tot FROM trans
               GROUP BY prev_type)
    SELECT t.prev_type AS i, t.next_type AS j,
           t.n * 1e0 / r.tot AS v
    FROM trans t JOIN rowsum r ON r.prev_type = t.prev_type
"""

_MARKOV_FINAL_SQL = """
    SELECT j AS event_type, {p_out} AS stationary_prob
    FROM {pk}
    WHERE i = (SELECT min(i) FROM {pk})
    ORDER BY event_type
"""


def markov_stationary_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-run occupancy of the event-type Markov chain: the stationary
    distribution π (πP = π), computed as a row of P^64 by the same
    matrix-squaring machinery as the PCA operator ({MARKOV_SQUARINGS}
    materialized squarings of the type×type matrix — string-keyed joins,
    no index mapping needed). Answers "where does a user's session
    settle?", which the top-3 conditional table
    (markov_next_event_probs) cannot: π weights every path, not one
    hop. For a dense 5-state chain P^64 is far past mixing (every row
    of P^64 IS π to ~1e-10) — anchored against numpy's left
    eigenvector in tests.

    Scale shape: one lag window (per-user partitions) + one grouped
    count build P; everything after runs on the |types|² matrix —
    broadcast-scale forever."""
    from database_toolbox_spark.operators.profile import (  # noqa: PLC0415
        _PCA_SQ_SQL,
    )

    load_table(spark, sf_dir, "events")
    materialize(spark.sql(_MARKOV_P0_SQL)).createOrReplaceTempView("mkv_p0")
    for k in range(MARKOV_SQUARINGS):
        materialize(
            spark.sql(_PCA_SQ_SQL.format(prev=f"mkv_p{k}"))
        ).createOrReplaceTempView(f"mkv_p{k + 1}")
    return spark.sql(_MARKOV_FINAL_SQL.format(
        pk=f"mkv_p{MARKOV_SQUARINGS}", p_out=R("v", 6)
    ))


def _markov_stationary_oracle() -> str:
    from database_toolbox_spark.operators.profile import (  # noqa: PLC0415
        _PCA_SQ_SQL,
    )

    parts = [f"p0 AS MATERIALIZED ({_MARKOV_P0_SQL})"]
    for k in range(MARKOV_SQUARINGS):
        parts.append(f"""p{k + 1} AS MATERIALIZED (
        {_PCA_SQ_SQL.format(prev=f"p{k}")})""")
    body = ",\n    ".join(parts)
    final = _MARKOV_FINAL_SQL.format(
        pk=f"p{MARKOV_SQUARINGS}", p_out=R("v", 6)
    )
    return f"WITH {body}\n{final}"


QUERIES["markov_stationary_distribution"] = markov_stationary_distribution
ORACLE["markov_stationary_distribution"] = _markov_stationary_oracle()


_LTV_SQL = """
    WITH first_seen AS (
        SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
        FROM events GROUP BY user_id
    ),
    cohorts AS (
        SELECT cohort_day, count(*) AS cohort_size
        FROM first_seen GROUP BY cohort_day
    ),
    daily AS (
        -- day totals canon-rounded BEFORE the running sum so both
        -- engines fold identical doubles in window order
        SELECT f.cohort_day, {dd} AS day_offset,
               floor(sum(e.value) * 100 + 0.501e0) / 100e0 AS day_value
        FROM events e JOIN first_seen f ON e.user_id = f.user_id
        GROUP BY f.cohort_day, {dd}
    ),
    cum AS (
        SELECT cohort_day, day_offset,
               sum(day_value) OVER (PARTITION BY cohort_day
                   ORDER BY day_offset
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_value
        FROM daily
    )
    SELECT c.cohort_day, CAST(m.day_offset AS INT) AS day_offset,
           CAST(c.cohort_size AS BIGINT) AS cohort_size,
           {ltv} AS cum_ltv_per_user
    FROM cum m JOIN cohorts c ON c.cohort_day = m.cohort_day
    ORDER BY c.cohort_day, day_offset
"""


def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: cumulative per-user event value by
    cohort age — the monetized companion to cohort_retention (retention
    says WHO comes back; LTV says what the cohort is worth by day k,
    the curve a growth model fits payback periods on).

    Scale shape: one grouped (cohort, offset) aggregate over the pruned
    3-column join; the running sum windows PARTITION BY cohort_day
    (calendar-bounded partitions, never a global order); the per-user
    normalization joins the cohort-count relation (calendar-sized,
    broadcast)."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_LTV_SQL.format(
        dd="datediff(CAST(e.ts AS DATE), f.cohort_day)",
        ltv=R("m.cum_value / c.cohort_size", 4),
    ))


QUERIES["cohort_ltv_curves"] = cohort_ltv_curves
ORACLE["cohort_ltv_curves"] = _LTV_SQL.format(
    dd="CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS INT)",
    ltv=R("m.cum_value / c.cohort_size", 4),
)


# --- hourly OHLC value bars -------------------------------------------------

_OHLC_SQL = f"""
    WITH e AS (
        SELECT date_trunc('hour', ts) AS bar_hour, ts, event_id, value
        FROM events
    ),
    r AS (
        SELECT bar_hour, value,
               CAST(row_number() OVER (PARTITION BY bar_hour
                                       ORDER BY ts, event_id)
                   AS BIGINT) AS rn_asc,
               CAST(row_number() OVER (PARTITION BY bar_hour
                                       ORDER BY ts DESC, event_id DESC)
                   AS BIGINT) AS rn_desc
        FROM e
    )
    SELECT bar_hour,
           CAST(count(*) AS BIGINT)                       AS n_events,
           {R("max(CASE WHEN rn_asc = 1 THEN value END)")}  AS open_value,
           {R("max(value)")}                               AS high_value,
           {R("min(value)")}                               AS low_value,
           {R("max(CASE WHEN rn_desc = 1 THEN value END)")} AS close_value,
           {R("sum(value)")}                               AS total_value
    FROM r GROUP BY bar_hour ORDER BY bar_hour
"""


def event_value_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (open/high/low/close) bars over event values — the
    candlestick rollup a time-series engine's continuous aggregate
    produces. Open/close are decided by (ts, event_id) row_number, not
    min_by/max_by, so ties at the bar edge resolve identically in both
    engines (min_by tie-breaking is engine-defined).

    Scale shape: the two windows PARTITION BY the hour bar — per-bar
    state, never a global sort; the grouped tail is map-side combinable.
    A streaming twin would be a watermarked window aggregate."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_OHLC_SQL)


QUERIES["event_value_ohlc_hourly"] = event_value_ohlc_hourly
ORACLE["event_value_ohlc_hourly"] = _OHLC_SQL


# --- DAU / WAU stickiness ------------------------------------------------------

_WAU_OFFSETS = " UNION ALL ".join(f"SELECT {k} AS k" for k in range(7))

_STICKINESS_SQL = f"""
    WITH ud AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    dau AS (
        SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day
    ),
    off AS ({_WAU_OFFSETS}),
    w AS (
        SELECT DISTINCT ud.day + o.k AS day, ud.user_id
        FROM ud CROSS JOIN off o
    ),
    wau AS (
        SELECT day, CAST(count(*) AS BIGINT) AS wau FROM w GROUP BY day
    )
    SELECT d.day, d.dau, w.wau,
           {R("d.dau * 1e0 / w.wau", 4)} AS stickiness
    FROM dau d JOIN wau w ON w.day = d.day
    ORDER BY d.day
"""


def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU, trailing-7-day WAU, and the DAU/WAU stickiness ratio per day —
    the canonical product-engagement dashboard triple. WAU(d) counts
    distinct users over [d-6, d]: each active (day, user) is expanded to
    the 7 window days it contributes to, then deduplicated — an EXACT
    rolling distinct count without a distinct-over-window (which neither
    engine supports) and without re-scanning 7 days per output day.

    Scale shape: the expansion is a fixed x7 of the deduplicated
    (day, user) relation, and both distincts are grouped shuffles on
    (day, user) — linear, map-side combinable, no global state. The
    first 6 days carry partial trailing windows (standard dashboard
    semantics); days past the data's end are dropped by the DAU join."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_STICKINESS_SQL)


QUERIES["dau_wau_stickiness"] = dau_wau_stickiness
ORACLE["dau_wau_stickiness"] = _STICKINESS_SQL


# --- inter-arrival burstiness --------------------------------------------------


def _burstiness_sql(us: str) -> str:
    return f"""
        WITH g AS (
            SELECT event_type,
                   ({us} - lag({us}) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id)) / 1e6 AS gap_s
            FROM events
        ),
        agg AS (
            SELECT event_type,
                   count(gap_s) AS n_gaps,
                   avg(gap_s) AS mu,
                   stddev_samp(gap_s) AS sd
            FROM g GROUP BY event_type
        )
        SELECT event_type,
               CAST(n_gaps AS BIGINT) AS n_gaps,
               {R("mu", 4)} AS mean_gap_s,
               {R("sd", 4)} AS sd_gap_s,
               {R("sd / mu", 6)} AS cv,
               {R("(sd - mu) / (sd + mu)", 6)} AS burstiness,
               {R("3600e0 / mu", 6)} AS poisson_rate_per_hour
        FROM agg ORDER BY event_type
    """


def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival statistics over per-user gap streams:
    mean/sd gap, coefficient of variation, the Goh-Barabasi burstiness
    index B = (sd - mu)/(sd + mu) (EPL 81, 2008: B = 0 is a Poisson
    process, B -> 1 is maximally bursty, B < 0 is pacemaker-regular),
    and the exponential-MLE rate 1/mu. The diagnostic that says whether
    event traffic can be capacity-planned as Poisson or needs a bursty
    model.

    Scale shape: one lag window PARTITIONed BY (user, type) — per-user
    state only, never a global sort; the gap aggregate is map-side
    combinable. Exact microsecond epochs keep both engines on the same
    integer grid before the single division."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_burstiness_sql("unix_micros(CAST(ts AS TIMESTAMP))"))


QUERIES["interarrival_burstiness"] = interarrival_burstiness
ORACLE["interarrival_burstiness"] = _burstiness_sql("epoch_us(ts)")


# --- user-activity power-law fit ------------------------------------------------

_ACTIVITY_POWERLAW_SQL = f"""
    WITH per_user AS (
        SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
    ),
    hist AS (
        SELECT n_events AS activity, CAST(count(*) AS BIGINT) AS n_users
        FROM per_user GROUP BY n_events
    ),
    fit AS (
        SELECT CAST(count(*) AS BIGINT) AS n_points,
               regr_slope(ln(n_users * 1e0), ln(activity * 1e0)) AS slope,
               regr_intercept(ln(n_users * 1e0), ln(activity * 1e0)) AS icept,
               corr(ln(n_users * 1e0), ln(activity * 1e0)) AS r
        FROM hist
    )
    SELECT f.n_points,
           CAST(t.n_users_total AS BIGINT) AS n_users,
           CAST(t.max_activity AS BIGINT) AS max_activity,
           {R("-f.slope", 4)} AS alpha,
           {R("f.icept", 4)} AS log_intercept,
           {R("f.r * f.r", 4)} AS r_squared
    FROM fit f CROSS JOIN (
        SELECT sum(n_users) AS n_users_total, max(activity) AS max_activity
        FROM hist
    ) t
"""


def user_activity_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law screen of the events-per-user distribution: ordinary
    least squares on the log-log activity histogram (alpha = -slope,
    with r^2 as the straight-line diagnostic) — the quick heavy-tail
    triage for skew planning (a high alpha means activity concentrates
    in few users -> salting / AQE skew handling matters; see
    shuffle_skew_profile for the shuffle-key version). The log-log-LS
    estimator is the classic exploratory one; it is biased relative to
    the Clauset-Shalizi-Newman MLE, which is the follow-up when the
    screen fires.

    Scale shape: one grouped count per user, one grouped count per
    activity level (histogram bounded by max activity), then a 1-row
    algebraic regression aggregate over the histogram."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_ACTIVITY_POWERLAW_SQL)


QUERIES["user_activity_powerlaw"] = user_activity_powerlaw
ORACLE["user_activity_powerlaw"] = _ACTIVITY_POWERLAW_SQL


# --- bot-likeness flags ---------------------------------------------------------

BOT_MIN_EVENTS = 10  # flag only users with enough gaps to judge
BOT_CV_NUM = 1  # regularity flag: CV < NUM/DEN (exact via sd*DEN < mu*NUM)
BOT_CV_DEN = 4


def _bot_flags_sql(us: str) -> str:
    return f"""
        WITH g AS (
            SELECT user_id,
                   ({us} - lag({us}) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)) / 1e6
                       AS gap_s
            FROM events
        ),
        per_user AS (
            SELECT user_id,
                   count(gap_s) AS n_gaps,
                   avg(gap_s) AS mu,
                   stddev_samp(gap_s) AS sd
            FROM g GROUP BY user_id
        ),
        flags AS (
            SELECT user_id, n_gaps,
                   CASE WHEN n_gaps >= {BOT_MIN_EVENTS}
                             AND sd * {BOT_CV_DEN} < mu * {BOT_CV_NUM}
                        THEN 1 ELSE 0 END AS too_regular
            FROM per_user
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(CASE WHEN n_gaps >= {BOT_MIN_EVENTS} THEN 1
                        ELSE 0 END) AS BIGINT) AS n_judgeable,
               CAST(sum(too_regular) AS BIGINT) AS n_flagged,
               {R(f"sum(too_regular) * 1e0"
                  f" / sum(CASE WHEN n_gaps >= {BOT_MIN_EVENTS} THEN 1"
                  f" ELSE 0 END)", 6)} AS flagged_rate
        FROM flags
    """


def bot_user_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metronome-bot screen over per-user inter-arrival gaps: a user whose
    gap coefficient of variation falls below 1/4 with at least
    BOT_MIN_EVENTS gaps is ticking too regularly for a human (human
    inter-event CV sits near 1, the Poisson line — see
    interarrival_burstiness; scripted traffic clusters near 0). Reports
    the corpus summary the abuse dashboard wants: judgeable users,
    flagged count, flagged rate.

    Determinism: the CV threshold compares sd * DEN < mu * NUM — no
    float-literal division, and sd/mu come from identical per-user gap
    sets in both engines (window ordered by (ts, event_id)).

    Scale shape: one lag window PARTITIONed BY user, one grouped
    moment pass per user, one scalar rollup — per-user state only."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_bot_flags_sql("unix_micros(CAST(ts AS TIMESTAMP))"))


QUERIES["bot_user_flags"] = bot_user_flags
ORACLE["bot_user_flags"] = _bot_flags_sql("epoch_us(ts)")


# --- watermark lateness profile ------------------------------------------------


def _lateness_sql(us: str) -> str:
    return f"""
        WITH arr AS (
            SELECT event_type,
                   ({us}) AS ts_us,
                   max({us}) OVER (
                       PARTITION BY event_type ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS frontier_us
            FROM events
        ),
        late AS (
            SELECT event_type,
                   (frontier_us - ts_us) / 1e6 AS lateness_s
            FROM arr
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN lateness_s > 0e0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_out_of_order,
               {R("percentile(lateness_s, 0.5e0)", 2)} AS p50_lateness_s,
               {R("percentile(lateness_s, 0.95e0)", 2)} AS p95_lateness_s,
               {R("percentile(lateness_s, 0.99e0)", 2)} AS p99_lateness_s,
               {R("max(lateness_s)", 2)} AS max_lateness_s
        FROM late GROUP BY event_type ORDER BY event_type
    """


def lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-sizing profile: per event type, the distribution of how
    far events arrive BEHIND the event-time frontier (running max of ts
    in arrival order — event_id is the fixture's ingestion sequence).
    p95/p99 lateness IS the number a streaming job should set
    `withWatermark` to: a watermark below p99 drops ~1% of events, one
    far above it holds state for no reason. The batch measurement that
    turns the streaming tier's watermark choices from guesses into
    numbers.

    Scale shape: one running-max window PARTITIONed BY event type in
    arrival order (per-type frontier state only), one grouped
    percentile pass. Exact integer microsecond frontier arithmetic
    before the single division."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_lateness_sql("unix_micros(CAST(ts AS TIMESTAMP))"))


QUERIES["lateness_profile"] = lateness_profile
ORACLE["lateness_profile"] = _lateness_sql("epoch_us(ts)").replace(
    "percentile(", "quantile_cont("
)


# --- concurrent sessions peak -------------------------------------------------
#
# Interval-overlap counting via the classic sweep line: each 10-minute-gap
# session is an interval [start, end]; concurrency after a boundary point is
# the running sum of +1 (start) / -1 (end) deltas sorted by (time, delta
# DESC) — the DESC tie-break counts a session starting exactly when another
# ends as concurrent. Sessions are clipped to day boundaries first so the
# running window is keyed BY DAY (never one global ordering of the corpus),
# the same partition discipline as the daily series operators.
def _concurrent_sql(us: str, days: str, two: str) -> str:
    return f"""
        WITH gaps AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts > lag(ts) OVER w + INTERVAL 10 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sess_id
            FROM gaps
        ),
        spans AS (
            SELECT user_id, sess_id,
                   min({us.format(col="ts")}) AS s_us,
                   max({us.format(col="ts")}) AS e_us,
                   CAST(min(ts) AS DATE) AS s_day,
                   CAST(max(ts) AS DATE) AS e_day
            FROM sessions GROUP BY user_id, sess_id
        ),
        segs AS (
            -- clip each session to every day it touches: a midnight-
            -- spanning session contributes to both days' concurrency
            SELECT CAST(d AS DATE) AS day,
                   greatest(s_us,
                            {us.format(col="CAST(CAST(d AS DATE) AS TIMESTAMP)")})
                       AS lo_us,
                   least(e_us,
                         {us.format(col="CAST(CAST(d AS DATE) AS TIMESTAMP)")}
                         + 86399999999) AS hi_us
            FROM spans {days}
        ),
        points AS (
            SELECT day,
                   CASE WHEN t.i = 0 THEN lo_us ELSE hi_us END AS t_us,
                   CASE WHEN t.i = 0 THEN 1 ELSE -1 END AS delta
            FROM segs, {two} t
        ),
        running AS (
            SELECT day, t_us, delta,
                   sum(delta) OVER (
                       PARTITION BY day ORDER BY t_us, delta DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS conc
            FROM points
        )
        SELECT day,
               CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_active_sessions,
               CAST(max(conc) AS BIGINT) AS peak_concurrent,
               CAST(min(CASE WHEN conc = pk THEN t_us END) AS BIGINT)
                   AS first_peak_us
        FROM (
            SELECT day, t_us, delta, conc,
                   max(conc) OVER (PARTITION BY day) AS pk
            FROM running
        ) r
        GROUP BY day
        ORDER BY day
"""


def concurrent_sessions_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day peak concurrent 10-minute-gap sessions (the capacity-planning
    gauge): active-session count, the day's maximum simultaneous sessions,
    and the first microsecond instant the peak is reached.

    The sweep is exact: sessions active on [start, end] inclusive, and the
    (t, delta DESC) sort means back-to-back sessions touching at one
    instant count as overlapping. The prefix-sum multiset is invariant to
    ordering among equal (t, delta) rows, so peak and first-peak time are
    engine-stable.

    Scale shape: lag-gap sessionization (user-keyed windows), one grouped
    agg to session spans, a bounded day-explode (sessions rarely span >1
    day), then day-KEYED running-sum windows — 2 rows per session-day, no
    global ordering, no self-join. The peak/argmin fold is one more
    day-keyed window plus a 1-per-day rollup."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_concurrent_sql(
        "unix_micros(CAST({col} AS TIMESTAMP))",
        "LATERAL VIEW explode(sequence(s_day, e_day)) t AS d",
        "(SELECT explode(sequence(0, 1)) AS i)",
    ))


QUERIES["concurrent_sessions_peak"] = concurrent_sessions_peak
ORACLE["concurrent_sessions_peak"] = _concurrent_sql(
    "epoch_us({col})",
    "CROSS JOIN unnest(generate_series(CAST(s_day AS TIMESTAMP),"
    " CAST(e_day AS TIMESTAMP), INTERVAL 1 DAY)) AS u(d)",
    "(SELECT unnest(range(0, 2)) AS i)",
)


# --- conditional entropy of event transitions ----------------------------------

_COND_ENT_SQL = f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    ),
    tc AS (
        SELECT prev, event_type AS nxt, count(*) AS n
        FROM seq WHERE prev IS NOT NULL
        GROUP BY prev, event_type
    ),
    rowtot AS (SELECT prev, sum(n) AS np FROM tc GROUP BY prev),
    tot AS (SELECT sum(n) AS nt FROM tc),
    margin AS (SELECT nxt, sum(n) AS nn FROM tc GROUP BY nxt),
    hcond AS (
        SELECT sum(tc.n * 1e0 / t.nt
                   * -log2(tc.n * 1e0 / r.np)) AS h_cond
        FROM tc JOIN rowtot r ON r.prev = tc.prev CROSS JOIN tot t
    ),
    hmarg AS (
        SELECT sum(m.nn * 1e0 / t.nt * -log2(m.nn * 1e0 / t.nt)) AS h_next
        FROM margin m CROSS JOIN tot t
    )
    SELECT (SELECT CAST(nt AS BIGINT) FROM tot) AS n_transitions,
           {R("(SELECT h_next FROM hmarg)", 6)} AS h_next_bits,
           {R("(SELECT h_cond FROM hcond)", 6)} AS h_next_given_cur_bits,
           {R("(SELECT h_next FROM hmarg) - (SELECT h_cond FROM hcond)",
              6)} AS information_gain_bits,
           CASE WHEN (SELECT h_cond FROM hcond)
                     <= (SELECT h_next FROM hmarg) + 1e-9
                THEN 1 ELSE 0 END AS conditioning_never_hurts
    FROM tot
"""


def event_conditional_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(next | current) of the per-user event-type
    transition process vs the marginal H(next) (Shannon 1948 §6-7 — the
    entropy-rate upper bound for a first-order chain under the empirical
    state distribution): information_gain = how predictable the next
    event becomes once you know the current one. The information-theory
    readout of the same transition counts markov_next_event_probs /
    markov_stationary_distribution expose as probabilities; gain ~0 says
    sessions are memoryless, large gain justifies sequence features.
    H(next|cur) <= H(next) ALWAYS (conditioning never increases entropy)
    — emitted as a flag so the driver comparison re-proves the
    inequality on every run.

    Scale shape: user-keyed lag window, then |types|^2-bounded grouped
    aggregates — the transition matrix is the only shuffled relation."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_COND_ENT_SQL)


QUERIES["event_conditional_entropy"] = event_conditional_entropy
ORACLE["event_conditional_entropy"] = _COND_ENT_SQL


# --- time-decayed popularity ----------------------------------------------------
DECAY_HALF_LIFE_DAYS = 7

_DECAYED_POP_SQL = f"""
    WITH horizon AS (
        SELECT max(CAST(ts AS DATE)) AS h FROM events
    ),
    scored AS (
        SELECT e.event_type,
               pow(0.5e0, datediff{{args}} * 1e0
                          / {DECAY_HALF_LIFE_DAYS}) AS w
        FROM events e CROSS JOIN horizon x
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           {R("sum(w)", 4)} AS decayed_count,
           -- hash%1 constant partition: the window runs over the
           -- |event types| grouped relation (bounded), and the declared
           -- partition keeps the unpartitioned-window warning gate clean
           {R("sum(w) * 1e2 / sum(sum(w)) OVER ("
              "PARTITION BY (hash(event_type) % 1))", 4)}
               AS decayed_share_pct
    FROM scored
    GROUP BY event_type
    ORDER BY event_type
"""


def decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed event popularity with a
    {DECAY_HALF_LIFE_DAYS}-day half-life anchored at the corpus's LAST
    day (deterministic — never wall-clock): decayed_count =
    sum 0.5^(age_days/half_life), the freshness-weighted counter behind
    every trending/leaderboard surface (and the batch equivalent of a
    decayed streaming counter, which folds the same quantity as
    state * 0.5^dt + 1). Raw counts alongside show what recency
    reweighting changes.

    Scale shape: one scan with row-local age arithmetic against a 1-row
    broadcast horizon, one small grouped agg; the final share is a
    window over the |event types| relation."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_DECAYED_POP_SQL.format(
        args="(x.h, CAST(e.ts AS DATE))"
    ))


QUERIES["decayed_popularity"] = decayed_popularity
ORACLE["decayed_popularity"] = _DECAYED_POP_SQL.format(
    args="('day', CAST(e.ts AS DATE), x.h)"
)


# --- position-based (U-shaped) attribution ----------------------------------------
#
# The third standard multi-touch model next to linear_attribution_by_day
# and time_decay_attribution: 40% of the credit to the FIRST qualifying
# click, 40% to the LAST, the remaining 20% split across the middles
# (n=1 -> 100%, n=2 -> 50/50 — the usual degenerate-path conventions).
# Same pair scaffold, different credit expression; credit conservation
# (sum == credited purchases) is asserted in tests.

_POSITION_CREDIT = """CASE
    WHEN count(*) OVER (PARTITION BY purchase_id) = 1 THEN 1e0
    WHEN count(*) OVER (PARTITION BY purchase_id) = 2 THEN 0.5e0
    WHEN row_number() OVER (PARTITION BY purchase_id
                            ORDER BY click_ts, click_id) = 1 THEN 0.4e0
    WHEN row_number() OVER (PARTITION BY purchase_id
                            ORDER BY click_ts DESC, click_id DESC) = 1
         THEN 0.4e0
    ELSE 0.2e0 / (count(*) OVER (PARTITION BY purchase_id) - 2)
END"""

_POSITION_ATTR_SQL = _attribution_sql(
    pair_cols="",
    credit=_POSITION_CREDIT,
    credit_out=R("sum(credit)", 4),
)


def position_attribution_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based 40/20/40) attribution: first and last
    qualifying click take 40% each, middles share 20%; credit rolled up by
    click day.

    Scale shape: identical to the linear model — user-keyed equi-join with
    a time-window residual, per-purchase windows (bounded by one user's
    week of clicks), day-grain rollup. The two row_number windows share
    the purchase_id partitioning of the count window (one shuffle)."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_POSITION_ATTR_SQL)


QUERIES["position_attribution_by_day"] = position_attribution_by_day
ORACLE["position_attribution_by_day"] = _POSITION_ATTR_SQL


# --- CEP sequence-pattern matching ----------------------------------------------
# MATCH_RECOGNIZE-lite (SQL:2016 row-pattern recognition, the Flink CEP
# surface): each (user, day) event stream collapses to an ordered string of
# event-type initials (signup/error/click/view/purchase -> s/e/c/v/p, all
# distinct), and row patterns become plain regular expressions over that
# string. Quantified contiguous patterns (`ee+`), gap-tolerant funnels
# (`v[^p]*p`), and end-anchored abandonment (`c[^p]*$`) all come for free —
# no per-pattern joins, no window chains.
_CEP_PATTERNS = (
    # (name, regex — RE2-safe: no lookaround, shared by Java regex + RE2)
    ("view_to_purchase", "v[^p]*p"),
    ("error_burst", "ee+"),
    ("signup_then_click", "sc"),
    ("click_abandoned", "c[^p]*$"),
)


def _cep_sql(seq_expr: str, count_fn) -> str:
    """Per-pattern match census over per-(user, day) sequences: sequences
    built once (one grouped aggregate), every pattern counted in the same
    single pass over the sequence relation, constant-size UNION tail."""
    counts = ", ".join(
        f"{count_fn(pat)} AS c{i}" for i, (_, pat) in enumerate(_CEP_PATTERNS)
    )
    aggs = ", ".join(
        f"sum(CASE WHEN c{i} > 0 THEN 1 ELSE 0 END) AS g{i}, "
        f"sum(c{i}) AS m{i}"
        for i in range(len(_CEP_PATTERNS))
    )
    arms = " UNION ALL ".join(
        f"""SELECT '{name}' AS pattern,
               CAST(g{i} AS BIGINT) AS n_streams_matched,
               CAST(m{i} AS BIGINT) AS total_matches,
               {R(f"g{i} * 1e0 / n_streams", 4)} AS match_rate
        FROM agg"""
        for i, (name, _) in enumerate(_CEP_PATTERNS)
    )
    return f"""
        WITH seqs AS (
            SELECT user_id, CAST(ts AS DATE) AS day, {seq_expr} AS seq
            FROM events
            GROUP BY user_id, CAST(ts AS DATE)
        ),
        cnt AS (SELECT {counts} FROM seqs),
        agg AS (SELECT count(*) AS n_streams, {aggs} FROM cnt)
        SELECT * FROM ({arms}) u ORDER BY pattern
    """


def event_pattern_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern (CEP) census over per-user-day event streams: how many
    streams match each of {len(_CEP_PATTERNS)} funnel/burst/abandonment
    patterns and how often (see _cep_sql). The MATCH_RECOGNIZE capability
    re-expressed Spark-first: sequence strings + regex instead of an NFA
    operator.

    Scale shape: ONE groupBy builds each stream's initial-string (ordered
    in-group collapse; strings are bounded by events-per-user-day, never
    corpus-length), then all patterns evaluate in the same projection pass
    over the stream relation — adding a pattern costs zero extra scans or
    shuffles. The UNION tail runs on a 1-row aggregate."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_cep_sql(
        "concat_ws('', transform(array_sort(collect_list(struct("
        "ts, event_id, substring(event_type, 1, 1) AS ini))), "
        "s -> s.ini))",
        lambda pat: f"size(regexp_extract_all(seq, '{pat}', 0))",
    ))


QUERIES["event_pattern_matches"] = event_pattern_matches
ORACLE["event_pattern_matches"] = _cep_sql(
    "string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id)",
    lambda pat: f"len(regexp_extract_all(seq, '{pat}'))",
)


# --- session-gap sensitivity curve ------------------------------------------------
# The parameter-tuning curve for sessionization (the events-tier sibling
# of near_dup_threshold_curve): every downstream session metric depends on
# the inactivity-gap constant, and the only honest way to pick it is to
# see how session structure moves across candidate gaps. All levels share
# ONE gap computation — the lag window runs once; the thresholds ride a
# broadcast ladder.
SESSION_GAP_LEVELS = (15, 30, 60)  # minutes


def _gap_curve_sql(us_expr: str, levels_rel: str) -> str:
    return f"""
        WITH ev AS (
            SELECT user_id, ts, event_id, {us_expr} AS us FROM events
        ),
        g AS (
            SELECT user_id, ts, event_id, us,
                   us - lag(us) OVER (PARTITION BY user_id
                                      ORDER BY us, event_id) AS gap_us
            FROM ev
        ),
        thr AS ({levels_rel}),
        sid AS (
            SELECT t.gm, g.user_id, g.us,
                   SUM(CASE WHEN g.gap_us IS NULL
                             OR g.gap_us > t.gm * CAST(60000000 AS BIGINT)
                            THEN 1
                        ELSE 0 END)
                       OVER (PARTITION BY t.gm, g.user_id
                             ORDER BY g.us, g.event_id
                             ROWS UNBOUNDED PRECEDING) AS sess
            FROM g CROSS JOIN thr t
        ),
        per AS (
            SELECT gm, user_id, sess,
                   count(*) AS n_ev,
                   max(us) - min(us) AS dur_us
            FROM sid GROUP BY gm, user_id, sess
        )
        SELECT CAST(gm AS BIGINT) AS gap_minutes,
               CAST(count(*) AS BIGINT) AS n_sessions,
               {R("sum(n_ev) * 1e0 / count(*)", 4)} AS events_per_session,
               {R("sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) * 1e0"
                  " / count(*)", 4)} AS single_event_share,
               {R("sum(dur_us) / (count(*) * 60000000e0)", 4)}
                   AS mean_duration_min
        FROM per GROUP BY gm ORDER BY gap_minutes
    """


def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session structure as a function of the inactivity gap
    ({SESSION_GAP_LEVELS} minutes): session count, events/session,
    single-event share, mean duration per level (see _gap_curve_sql).
    Wider gaps merge sessions, so n_sessions is monotone non-increasing
    and events_per_session non-decreasing in the gap — asserted in tests.

    Scale shape: the lag window over (user, time) runs ONCE; each level
    then costs a per-(level, user) running sum on the broadcast-laddered
    relation and a two-level grouped aggregate — the sessionize shuffle
    budget times the constant ladder width, never a rescan of the
    corpus."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_gap_curve_sql(
        "unix_micros(CAST(ts AS TIMESTAMP))",
        "SELECT explode(array" + str(SESSION_GAP_LEVELS) + ") AS gm",
    ))


QUERIES["session_gap_sensitivity"] = session_gap_sensitivity
ORACLE["session_gap_sensitivity"] = _gap_curve_sql(
    "epoch_us(CAST(ts AS TIMESTAMP))",
    "SELECT unnest([" + ", ".join(str(g) for g in SESSION_GAP_LEVELS)
    + "]) AS gm",
)


# --- UCB1 arm allocation snapshot ---------------------------------------------------
# The sequential-decision layer over the event stream: treating each
# event type as an arm and `value` as its reward, UCB1 (Auer, Cesa-Bianchi
# & Fischer, MLJ 2002) scores each arm mean + sqrt(2 ln N / n) — the
# exploration bonus that makes total regret O(log N). Deterministic
# because rewards accumulate on an exact cents grid (order-free BIGINT
# sum), unlike Thompson sampling's RNG draw.


def _ucb_sql() -> str:
    """Per-arm pull count, exact-cents mean reward, UCB1 bonus and score,
    and the allocation rank (the arm a UCB policy pulls next is rank 1).
    Identical text in both dialects."""
    return f"""
        WITH pulls AS (
            SELECT event_type AS arm, count(*) AS n,
                   sum(CAST(floor(value * 100e0 + 0.5e0) AS BIGINT))
                       AS cents
            FROM events GROUP BY event_type
        ),
        tot AS (SELECT sum(n) AS big_n FROM pulls),
        scored AS (
            SELECT p.arm, p.n,
                   p.cents / (100e0 * p.n) AS mean_r,
                   sqrt(2e0 * ln(t.big_n) / p.n) AS bonus
            FROM pulls p CROSS JOIN tot t
        )
        SELECT arm, CAST(n AS BIGINT) AS n_pulls,
               {R("mean_r", 4)} AS mean_reward,
               {R("bonus", 6)} AS ucb_bonus,
               {R("mean_r + bonus", 4)} AS ucb_score,
               -- bounded window: one row per arm (|event types|)
               CAST(row_number() OVER (PARTITION BY (hash(arm) % 1)
                   ORDER BY floor((mean_r + bonus) * 10000e0 + 0.501e0)
                            DESC, arm) AS BIGINT) AS pull_rank
        FROM scored
        ORDER BY pull_rank
    """


def ucb_arm_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 allocation snapshot over event-type arms (see _ucb_sql):
    which arm an optimism-under-uncertainty policy pulls next, with the
    exploration bonus separated from the exploitation mean so the
    trade-off is visible.

    Scale shape: ONE grouped integer aggregate over the stream (map-side
    combinable) + a 1-row total broadcast; the scoring and rank run on
    the arms relation — O(arms) after the count, the same budget a real
    bandit service pays per decision tick. The rank window's single
    partition is the arms relation, bounded by construction."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_ucb_sql())


QUERIES["ucb_arm_allocation"] = ucb_arm_allocation
ORACLE["ucb_arm_allocation"] = _ucb_sql()


# --- Greenwood confidence bands for the KM curve ------------------------------------
# The survival curve without error bands invites over-reading its tail;
# Greenwood's formula (1926; Kalbfleisch & Prentice §1.4) gives
# Var(S(t)) = S(t)^2 * sum_{d<=t} deaths / (at_risk * (at_risk - deaths))
# and the log(-log) transform keeps the 95% bands inside [0, 1] (the
# complementary-log-log interval every survival package defaults to).
_KM_GW_SQL = """
    WITH per_user AS (
        SELECT user_id,
               min(ts) AS t0,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_ev,
               max(ts) AS t_last
        FROM events GROUP BY user_id
    ),
    dur AS (
        SELECT CASE WHEN t_ev IS NOT NULL THEN {dd_ev} ELSE {dd_last} END
                   AS d,
               CASE WHEN t_ev IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM per_user
    ),
    hist AS (
        SELECT d, CAST(sum(ev) AS BIGINT) AS deaths, count(*) AS leaving
        FROM dur GROUP BY d
    ),
    tot AS (SELECT count(*) AS n FROM dur),
    curve AS (
        -- bounded window: hist has one row per duration-day grid value
        SELECT d, deaths,
               t.n - coalesce(sum(leaving) OVER (
                   PARTITION BY (hash(d) % 1) ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS at_risk
        FROM hist CROSS JOIN tot t
    ),
    km AS (
        SELECT d, deaths, at_risk,
               exp(sum(ln(greatest(1e0 - deaths * 1e0 / at_risk, 1e-12)))
                   OVER (PARTITION BY (hash(d) % 1) ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   AS s,
               sum(deaths * 1e0
                   / (at_risk * greatest(at_risk - deaths, 1)))
                   OVER (PARTITION BY (hash(d) % 1) ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS gw
        FROM curve
    ),
    bands AS (
        SELECT d, deaths, at_risk, s,
               s * sqrt(gw) AS se,
               -- cloglog scale: theta = ln(-ln S), se_theta =
               -- sqrt(gw)/|ln S|; CI = S^exp(-+ z * se_theta)
               sqrt(gw) / greatest(abs(ln(greatest(s, 1e-12))), 1e-12)
                   AS se_cll
        FROM km WHERE deaths > 0
    )
    SELECT d AS day_offset, deaths,
           CAST(at_risk AS BIGINT) AS at_risk,
           {s_r} AS survival,
           {se_r} AS greenwood_se,
           {lo_r} AS ci_lo,
           {hi_r} AS ci_hi
    FROM bands
    ORDER BY day_offset
"""
_KM_Z95 = "1.959964e0"


def km_greenwood_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-purchase curve WITH 95% Greenwood bands on
    the complementary-log-log scale (see _KM_GW_SQL) — the error bars
    that stop the thin-at-risk tail of the curve being read as signal.

    Scale shape: identical to kaplan_meier_purchase (one per-user
    reduce, calendar-bounded windows) plus one more running sum for the
    Greenwood variance — the bands are free at any corpus size."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_KM_GW_SQL.format(
        dd_ev="datediff(CAST(t_ev AS DATE), CAST(t0 AS DATE))",
        dd_last="datediff(CAST(t_last AS DATE), CAST(t0 AS DATE))",
        s_r=R("s", 6),
        se_r=R("se", 6),
        lo_r=R(f"pow(s, exp({_KM_Z95} * se_cll))", 6),
        hi_r=R(f"pow(s, exp(-{_KM_Z95} * se_cll))", 6),
    ))


QUERIES["km_greenwood_bands"] = km_greenwood_bands
ORACLE["km_greenwood_bands"] = _KM_GW_SQL.format(
    dd_ev="date_diff('day', CAST(t0 AS DATE), CAST(t_ev AS DATE))",
    dd_last="date_diff('day', CAST(t0 AS DATE), CAST(t_last AS DATE))",
    s_r=R("s", 6),
    se_r=R("se", 6),
    lo_r=R(f"pow(s, exp({_KM_Z95} * se_cll))", 6),
    hi_r=R(f"pow(s, exp(-{_KM_Z95} * se_cll))", 6),
)


# --- Shapley channel attribution ----------------------------------------------------
# Data-driven multi-touch attribution via the exact Shapley value (Shao &
# Li, KDD'11 simplified game): coalition value v(S) = conversion rate of
# users whose touched-channel set is exactly S; each channel's credit is
# the Shapley average of its marginal contributions over the 3-channel
# coalition lattice. The axiomatic answer to "which channel deserves the
# conversion" that the positional heuristics (linear / U-shaped /
# time-decay ops in this module) approximate.
SHAPLEY_CHANNELS = (("click", 1), ("view", 2), ("signup", 4))


def _shapley_weight_rows() -> str:
    """(channel, S-mask, S∪{i}-mask, weight) literals; weights are the
    exact |S|!(|C|-|S|-1)!/|C|! fractions written as SQL divisions so
    both engines evaluate the identical double."""
    from math import factorial  # noqa: PLC0415

    rows = []
    for ch, bit in SHAPLEY_CHANNELS:
        others = [(c, b) for c, b in SHAPLEY_CHANNELS if c != ch]
        for m in range(4):
            s_mask = sum(b for j, (_, b) in enumerate(others) if m >> j & 1)
            k = bin(m).count("1")
            num = factorial(k) * factorial(3 - k - 1)
            rows.append(
                f"('{ch}', {s_mask}, {s_mask + bit}, "
                f"{num}e0 / {factorial(3)}e0)"
            )
    return ", ".join(rows)


_SHAPLEY_SQL = f"""
    WITH per_user AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               + 2 * max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                   AS mask,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    rates AS (
        SELECT mask, count(*) AS n_users,
               sum(converted) * 1e0 / count(*) AS v
        FROM per_user GROUP BY mask
    ),
    w AS (SELECT * FROM (VALUES {{ROWS}}) AS t(channel, s_mask, su_mask,
                                               wt)),
    contrib AS (
        SELECT w.channel,
               w.wt * (coalesce(su.v, 0e0) - coalesce(s.v, 0e0)) AS c
        FROM w
        LEFT JOIN rates su ON su.mask = w.su_mask
        LEFT JOIN rates s ON s.mask = w.s_mask
    ),
    phi AS (
        SELECT channel, sum(c) AS shapley FROM contrib GROUP BY channel
    ),
    tot AS (SELECT sum(shapley) AS t FROM phi)
    SELECT p.channel, {R("p.shapley", 6)} AS shapley_value,
           {R("p.shapley / t.t", 6)} AS credit_share
    FROM phi p CROSS JOIN tot t
    ORDER BY p.channel
"""


def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-channel Shapley attribution of purchase conversion (see
    _SHAPLEY_SQL): each channel's Shapley value over the
    exactly-touched-set coalition game plus its share of total credit —
    the axiomatically fair split, next to this module's positional
    heuristics.

    Scale shape: ONE grouped pass builds the per-user (mask, converted)
    profile (map-side combinable); everything after runs on the 8-row
    mask relation joined to a 12-row literal weight lattice. At 100 TB
    the corpus cost is the single scan."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_SHAPLEY_SQL.replace("{ROWS}", _shapley_weight_rows()))


QUERIES["shapley_channel_attribution"] = shapley_channel_attribution
ORACLE["shapley_channel_attribution"] = _SHAPLEY_SQL.replace(
    "{ROWS}", _shapley_weight_rows()
)


# --- Qini uplift by engagement level ------------------------------------------------
# Uplift modeling's standard readout (Radcliffe, Direct Marketing
# Analytics J. 2007): rank the population by a targeting score, then at
# each cumulative depth compare treated vs control conversions — the
# Qini value Y_t(k) - Y_c(k) * N_t(k)/N_c(k) is the incremental
# conversions bought by targeting the top-k. Here the score is the
# user's click count (engagement), bucketed so the curve is computable
# without a population-wide rank window; treatment is the md5 A/B split.
QINI_MAX_LEVEL = 8  # click-count buckets QINI_MAX_LEVEL..0, descending


def _qini_sql(md5arm: str) -> str:
    return f"""
        WITH per_user AS (
            SELECT user_id,
                   least(sum(CASE WHEN event_type = 'click'
                                  THEN 1 ELSE 0 END), {QINI_MAX_LEVEL})
                       AS level,
                   max(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS converted,
                   {md5arm} AS arm
            FROM events GROUP BY user_id
        ),
        lv AS (
            SELECT level,
                   sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_t,
                   sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_c,
                   sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS y_t,
                   sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS y_c
            FROM per_user GROUP BY level
        ),
        cum AS (
            -- bounded window: lv has one row per uplift level
            SELECT level, n_t, n_c, y_t, y_c,
                   sum(n_t) OVER w AS cn_t, sum(n_c) OVER w AS cn_c,
                   sum(y_t) OVER w AS cy_t, sum(y_c) OVER w AS cy_c
            FROM lv
            WINDOW w AS (PARTITION BY (hash(level) % 1)
                         ORDER BY level DESC ROWS UNBOUNDED PRECEDING)
        )
        SELECT CAST(level AS INT) AS engagement_level,
               CAST(n_t AS BIGINT) AS n_treated,
               CAST(n_c AS BIGINT) AS n_control,
               {R("y_t * 1e0 / greatest(n_t, 1)", 6)} AS conv_rate_treated,
               {R("y_c * 1e0 / greatest(n_c, 1)", 6)} AS conv_rate_control,
               {R("y_t * 1e0 / greatest(n_t, 1)"
                  " - y_c * 1e0 / greatest(n_c, 1)", 6)} AS uplift,
               {R("cy_t - cy_c * 1e0 * cn_t / greatest(cn_c, 1)", 4)}
                   AS qini_value
        FROM cum
        ORDER BY engagement_level DESC
    """


def qini_uplift_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift and cumulative Qini value by descending engagement level
    (see _qini_sql) over the md5 A/A split — a null experiment, so the
    Qini curve should hover near zero; the harness every uplift model
    is scored on, with the treated/control composition visible per
    level.

    Scale shape: one grouped per-user pass, then an
    O({QINI_MAX_LEVEL}+1)-row level relation with a constant-partition
    cumulative window — the bucketed spelling of the Qini curve that
    avoids a population-wide rank at 100 TB."""
    load_table(spark, sf_dir, "events")
    return spark.sql(_qini_sql(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 4),"
        " 16, 10) AS INT) % 2"
    ))


QUERIES["qini_uplift_levels"] = qini_uplift_levels
ORACLE["qini_uplift_levels"] = _qini_sql(
    "CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 4))"
    " AS INTEGER) % 2"
)
