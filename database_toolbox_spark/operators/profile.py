"""Data profiling, deterministic sampling, quantiles, histograms — the
warehouse data-quality surface (SURVEY.md §2.B aggregations [implied]; every
engine the reference wraps exposes these through `execute_sql`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from database_toolbox_spark.operators._oracle import R
from database_toolbox_spark.session import load_tables, materialize

_PROFILE_COLS = [
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_totalprice", "double"),
    ("o_orderstatus", "string"),
    ("o_orderpriority", "string"),
]


def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of `orders`: rows, nulls, distincts, min/max
    (stringified for a uniform shape) — one UNION ALL branch per column,
    a single pass each thanks to column pruning."""
    load_tables(spark, sf_dir)
    branches = []
    for col, _ in _PROFILE_COLS:
        branches.append(f"""
            SELECT '{col}' AS column_name,
                   count(*) AS n_rows,
                   count(*) - count({col}) AS n_nulls,
                   count(DISTINCT {col}) AS n_distinct,
                   CAST(min({col}) AS STRING) AS min_str,
                   CAST(max({col}) AS STRING) AS max_str
            FROM orders
        """)
    return spark.sql(" UNION ALL ".join(branches) + " ORDER BY column_name")


def systematic_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic sampling (key mod N — the RNG-free sampling
    that stays stable across engines and epochs): 5% of orders, aggregated.
    TABLESAMPLE/rand() would be engine-specific; modulo sampling is the
    reproducible-pipeline idiom."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
        SELECT o_orderstatus,
               count(*) AS n_sampled,
               {R("sum(o_totalprice)")} AS sum_price
        FROM orders
        WHERE o_orderkey % 20 = 7
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """)


def price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per segment (Spark `percentile` and
    DuckDB `quantile_cont` share the linear-interpolation definition)."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
        SELECT c.c_mktsegment,
               {R("percentile(o.o_totalprice, 0.25e0)", 4)} AS p25,
               {R("percentile(o.o_totalprice, 0.5e0)", 4)}  AS p50,
               {R("percentile(o.o_totalprice, 0.75e0)", 4)} AS p75,
               {R("percentile(o.o_totalprice, 0.9e0)", 4)}  AS p90
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """)


def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order prices (50k-wide buckets) — manual
    bucketing (floor(x/width)) is engine-portable where width_bucket is
    not."""
    load_tables(spark, sf_dir)
    return spark.sql("""
        SELECT CAST(floor(o_totalprice / 50000e0) AS INT) AS bucket,
               CAST(floor(o_totalprice / 50000e0) AS INT) * 50000 AS bucket_lo,
               count(*) AS n
        FROM orders
        GROUP BY 1, 2 ORDER BY bucket
    """)


def _stratified_sql(bucket_expr: str) -> str:
    """Deterministic stratified sampling: per-stratum rates, membership by
    md5-hash bucket of the key (order-independent, reproducible across
    engines/epochs/partitions — the 100 TB training-mix idiom; rand()/
    TABLESAMPLE are neither stable nor cross-engine). bucket_expr renders
    the 0-99 hash bucket per dialect."""
    return f"""
        WITH rates(seg, rate_pct) AS (VALUES
            ('AUTOMOBILE', 5), ('BUILDING', 10), ('FURNITURE', 20),
            ('HOUSEHOLD', 50), ('MACHINERY', 100)
        )
        SELECT c.c_mktsegment,
               r.rate_pct,
               count(*) AS n_total,
               -- CAST: DuckDB SUM(INT) yields HUGEINT → pandas float64,
               -- breaking the driver hash (no-op on the Spark side)
               CAST(sum(CASE WHEN {bucket_expr} < r.rate_pct THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sampled
        FROM customer c JOIN rates r ON c.c_mktsegment = r.seg
        GROUP BY c.c_mktsegment, r.rate_pct
        ORDER BY c.c_mktsegment
    """


def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling by md5-bucket with per-segment
    rates — both engines select the IDENTICAL row set (exact-count oracle,
    no tolerance needed)."""
    load_tables(spark, sf_dir)
    return spark.sql(_stratified_sql(
        "CAST(conv(substring(md5(CAST(c.c_custkey AS STRING)), 1, 4), 16, 10)"
        " AS INT) % 100"
    ))


def profile_table(spark: SparkSession, table: str) -> DataFrame:
    """Generic registry tool: profile any registered table/view (one UNION
    branch per column from the catalog schema).

    The table name binds through `IDENTIFIER(:tbl)` (Spark 4 parameterized
    identifier), never string interpolation — the Spark-native equivalent
    of the reference's bound tool parameters
    (/root/reference/tests/sqlite/sqlite.yaml:19-22), closed to SQL
    injection through the tool argument. Column names come from the
    catalog schema (not the caller) and are backtick-escaped."""
    schema = spark.table(table).schema
    branches = [
        f"""
        SELECT '{f.name}' AS column_name, '{f.dataType.simpleString()}' AS data_type,
               count(*) AS n_rows,
               count(*) - count(`{bt}`) AS n_nulls,
               count(DISTINCT `{bt}`) AS n_distinct
        FROM IDENTIFIER(:tbl)
        """
        for f in schema.fields
        for bt in [f.name.replace("`", "``")]
    ]
    return spark.sql(
        " UNION ALL ".join(branches) + " ORDER BY column_name",
        args={"tbl": table},
    )


_DQ_SQL = """
        SELECT 'orders_pk_unique' AS check_name,
               (SELECT count(*) FROM (
                   SELECT o_orderkey FROM orders
                   GROUP BY o_orderkey HAVING count(*) > 1
               )) AS n_violations
        UNION ALL
        SELECT 'lineitem_order_fk',
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL
        SELECT 'orders_customer_fk',
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'discount_in_range',
               (SELECT count(*) FROM lineitem
                WHERE l_discount < 0e0 OR l_discount > 0.1e0)
        UNION ALL
        SELECT 'qty_positive',
               (SELECT count(*) FROM lineitem WHERE l_quantity <= 0e0)
        UNION ALL
        SELECT 'custkey_not_null',
               (SELECT count(*) FROM customer WHERE c_custkey IS NULL)
        ORDER BY check_name
"""


def dq_check_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (the dbt-test / Deequ-style contract
    layer a training-data warehouse runs before every ingest): uniqueness,
    referential integrity, range, and not-null checks, one violation count
    per named check.

    Scale shape: each check is an independent aggregate or anti-join
    (EXISTS compiles to a semi/anti hash join, never a nested loop); the
    six branches share scans where Catalyst can and parallelize freely —
    there is no serial "validator" pass. Identical SQL on both engines."""
    load_tables(spark, sf_dir)
    return spark.sql(_DQ_SQL)


_EMB_DIM_STATS = """
        {src}
        SELECT dim,
               count(*)             AS n,
               {mean}               AS mean_val,
               {sd}                 AS sd_val,
               {mn}                 AS min_val,
               {mx}                 AS max_val
        FROM vals
        GROUP BY dim
        ORDER BY dim
"""


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature statistics over the embedding column — the
    normalization/scaling pre-pass (and drift monitor) of an ML feature
    pipeline. posexplode turns the array column into (dim, value) pairs;
    the per-dim aggregate is map-side combinable, so the shuffle carries
    d partial states per task, not d×n rows."""
    load_tables(spark, sf_dir)
    return spark.sql(_EMB_DIM_STATS.format(
        src="""
        WITH vals AS (
            SELECT pos AS dim, CAST(v AS DOUBLE) AS v
            FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, v
        )""",
        mean=R("avg(v)", 6),
        sd=R("stddev_samp(v)", 6),
        mn=R("min(v)", 6),
        mx=R("max(v)", 6),
    ))


SAMPLE_K = 5  # docs kept per source


def _weighted_sample_sql(u32_expr: str) -> str:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-RES):
    priority = u^(1/weight) with u an md5-derived uniform — the top-k
    priorities per group ARE a weighted sample, computed with one window
    rank, no rejection loop, deterministic across engines/partitions/epochs
    (the 100 TB training-mix requirement; rand() is neither).

    Priorities are canon-rounded to 9 digits BEFORE ranking with doc_id as
    the tie-break, so a sub-ulp libm difference between engines cannot
    reorder the cut. u32_expr renders the md5 32-bit uniform per dialect."""
    pri = "pow((({u}) + 1e0) / 4294967296e0, 1e0 / n_chars)".format(u=u32_expr)
    return f"""
        WITH pri AS (
            SELECT source, doc_id, n_chars,
                   {R(pri, 9)} AS priority
            FROM documents
        ),
        ranked AS (
            SELECT source, doc_id, n_chars, priority,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY priority DESC, doc_id) AS rk
            FROM pri
        )
        SELECT source, doc_id, n_chars, priority
        FROM ranked WHERE rk <= {SAMPLE_K}
        ORDER BY source, doc_id
    """


def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted document sample (weight = n_chars): longer docs
    proportionally likelier, exactly k per source, fully deterministic."""
    load_tables(spark, sf_dir)
    return spark.sql(_weighted_sample_sql(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT)"
    ))


_K_ANON_SQL = f"""
        WITH classes AS (
            SELECT c_nationkey, c_mktsegment, count(*) AS class_size
            FROM customer
            GROUP BY c_nationkey, c_mktsegment
        )
        SELECT count(*) AS n_classes,
               min(class_size) AS k_anonymity,
               CAST(sum(CASE WHEN class_size < 10 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_small_classes,
               CAST(sum(CASE WHEN class_size < 10 THEN class_size ELSE 0 END)
                   AS BIGINT) AS n_rows_at_risk,
               {R("sum(CASE WHEN class_size < 10 THEN class_size ELSE 0 END)"
                  " * 1e2 / sum(class_size)", 4)} AS pct_rows_at_risk
        FROM classes
"""


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair
    (c_nationkey, c_mktsegment): equivalence-class count, the dataset's k
    (smallest class), and how many rows sit in classes below k=10 — the
    re-identification-risk report a privacy review runs before releasing a
    table (complements pii_scrub_counts, which handles direct
    identifiers).

    Scale shape: one grouped count on the quasi-identifier key (map-side
    combinable), then a scalar re-aggregate over the class table, whose
    cardinality is the QI domain, not the row count. Identical SQL on both
    engines."""
    load_tables(spark, sf_dir)
    return spark.sql(_K_ANON_SQL)


_LABEL_SEP_SQL = """
        {src}
        , per_label AS (
            SELECT label, dim, count(*) AS n_l,
                   sum(v) AS s_l, sum(v * v) AS q_l
            FROM vals GROUP BY label, dim
        ),
        per_dim AS (
            SELECT dim,
                   CAST(sum(n_l) AS DOUBLE) AS n,
                   sum(s_l) AS s,
                   sum(q_l) AS q,
                   sum(s_l * s_l / n_l) AS snm,
                   CAST(count(*) AS DOUBLE) AS n_labels
            FROM per_label GROUP BY dim
        )
        SELECT dim,
               {fisher} AS fisher_ratio,
               {eta} AS eta_sq
        FROM per_dim
        ORDER BY dim
"""
_FISHER = ("((snm - s * s / n) / (n_labels - 1e0))"
           " / ((q - snm) / (n - n_labels))")
_ETA = "(snm - s * s / n) / (q - s * s / n)"


def label_separation_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension class separability of the embedding space: Fisher
    ratio (between-class / within-class variance, the one-way ANOVA F
    statistic) and eta-squared per dimension, using the vectors' integer
    labels as classes — the feature-selection / probe-quality diagnostic of
    an embedding pipeline.

    One pass: per (label, dim) moment sums (count/sum/sum-of-squares,
    map-side combinable), then scatter decomposition via the computational
    formula (SS_within = Σv² − Σ n_l·m_l²) on the label×dim table — no
    second scan, no join back to the exploded values."""
    load_tables(spark, sf_dir)
    return spark.sql(_LABEL_SEP_SQL.format(
        src="""
        WITH vals AS (
            SELECT label, pos AS dim, CAST(v AS DOUBLE) AS v
            FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, v
        )""",
        fisher=R(_FISHER, 5),
        eta=R(_ETA, 6),
    ))


_BENFORD_SQL = f"""
        WITH digits AS (
            SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                       AS STRING), 1, 1) AS INT) AS d
            FROM orders WHERE o_totalprice >= 1e0
        ),
        counts AS (
            SELECT d, count(*) AS n FROM digits GROUP BY d
        )
        -- bounded window: counts has one row per leading digit (1-9)
        SELECT d, n,
               {R("n * 1e0 / sum(n) OVER (PARTITION BY (hash(d) % 1))", 6)}
                   AS obs_freq,
               {R("log10(1e0 + 1e0 / d)", 6)} AS benford_freq
        FROM counts
        ORDER BY d
"""


def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed leading-
    digit frequency vs the log10(1 + 1/d) expectation — the classic
    fabricated-data / fraud screen a warehouse DQ suite runs on money
    columns (synthetic uniform-ish prices will visibly NOT be Benford,
    which is exactly what the report is for).

    One grouped count over a projected digit, then a 9-row re-aggregate
    (the hash%1 window partition is constant — the digit domain is
    bounded; declares the single partition intentional). Identical SQL on
    both engines."""
    load_tables(spark, sf_dir)
    return spark.sql(_BENFORD_SQL)


_REF_INTEGRITY_SQL = """
        SELECT 'lineitem_orphans' AS check_name,
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
                   AS n_violations
        UNION ALL
        SELECT 'order_orphans',
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'customer_orphans',
               (SELECT count(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM nation n
                                  WHERE n.n_nationkey = c.c_nationkey))
        UNION ALL
        SELECT 'orders_pk_dups',
               (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
        UNION ALL
        SELECT 'customer_pk_dups',
               (SELECT count(*) - count(DISTINCT c_custkey) FROM customer)
        UNION ALL
        SELECT 'lineitem_pk_dups',
               (SELECT count(*) - count(DISTINCT l_orderkey * 10 +
                    l_linenumber) FROM lineitem)
        ORDER BY check_name
"""


def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity + primary-key audit across the star schema:
    FK orphan counts on all three edges (lineitem→orders→customer→nation,
    as NOT-EXISTS anti-joins — keyed shuffles, no cross products) and PK
    uniqueness per table (count vs distinct count, one pass each) — the
    constraint checks a lakehouse runs per load because parquet enforces
    none of them. All-zero violations = the fixture's invariant.
    Identical SQL on both engines."""
    load_tables(spark, sf_dir)
    return spark.sql(_REF_INTEGRITY_SQL)


EMB_DIM = 64  # fixture embedding dimensionality (FIXTURES.md)

# The ONE Spark spelling of the (i<=j) embedding pair stream — shared by
# embedding_covariance and pca_top_component (the DuckDB twin is
# _DUCK_PAIR_SRC below).
_SPARK_PAIR_SRC = """
            SELECT CAST(i AS BIGINT) AS i, CAST(x AS DOUBLE) AS x,
                   CAST(j AS BIGINT) AS j, CAST(y AS DOUBLE) AS y
            FROM embeddings
            LATERAL VIEW posexplode(embedding) a AS i, x
            LATERAL VIEW posexplode(embedding) b AS j, y
            WHERE i <= j
        """

_COV_SQL = """
    WITH p AS ({pair_src}),
    agg AS (
        SELECT i, j, count(*) AS n,
               sum(x * y) AS sxy, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(y * y) AS syy
        FROM p GROUP BY i, j
    )
    SELECT i, j, n, {cov} AS cov, {corr} AS corr
    FROM agg ORDER BY i, j
"""
_COV = "(sxy - sx * sy / n) / (n - 1)"
_CORR = ("(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx)"
         " * sqrt(n * syy - sy * sy))")


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance + correlation matrix of the embedding
    space — the distributed linear-algebra pre-pass for PCA/whitening/
    feature-redundancy pruning (embedding_dim_stats' pairwise
    companion).

    Scale shape: the double posexplode emits D(D+1)/2 = 2080 (x·y)
    pairs per vector, but the (i, j) aggregate is map-side combinable —
    the shuffle carries at most 2080 partial states per task, never
    n×2080 rows, and one corpus pass does all the multiply-adds (the
    irreducible FLOP cost of a covariance). Five algebraic sums per
    cell reconstruct cov and corr exactly; sqrt is IEEE
    correctly-rounded so both engines agree bit-for-bit pre-round."""
    load_tables(spark, sf_dir)
    return spark.sql(_COV_SQL.format(
        pair_src=_SPARK_PAIR_SRC,
        cov=R(_COV, 6),
        corr=R(_CORR, 6),
    ))


def _explosion_block(table: str, key: str) -> str:
    """One shuffle-key audit block: per-key histogram → 1-row skew/size
    forecast. sum() casts: DuckDB BIGINT sums widen to HUGEINT."""
    return f"""
        SELECT '{table}.{key}' AS shuffle_key,
               CAST(sum(c) AS BIGINT) AS n_rows,
               count(*) AS n_keys,
               CAST(sum(c * c) AS BIGINT) AS self_join_rows,
               CAST(max(c) AS BIGINT) AS max_key_rows,
               {R("max(c) * 1e0 * count(*) / sum(c)", 4)} AS skew_factor
        FROM (SELECT {key} AS k, count(*) AS c FROM {table} GROUP BY {key})
    """


_EXPLOSION_SQL = (
    " UNION ALL ".join([
        _explosion_block("lineitem", "l_partkey"),
        _explosion_block("lineitem", "l_suppkey"),
        _explosion_block("orders", "o_custkey"),
        _explosion_block("events", "user_id"),
    ])
    + " ORDER BY shuffle_key"
)


def join_explosion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality forecast for candidate shuffle keys: per-key
    row counts fold into the exact self-equi-join output size Σc² and a
    skew factor (max key / mean key). This is the audit to run BEFORE
    committing a 100 TB many-to-many join — Σc² says whether the output
    explodes, and skew_factor says whether one hot key will pin a single
    reducer (→ salt or AQE skew join). One grouped agg per key; the
    audit never materializes the join. Identical SQL both engines
    modulo HUGEINT casts."""
    load_tables(spark, sf_dir)
    return spark.sql(_EXPLOSION_SQL)


def _skew_block(table: str, key: str) -> str:
    """Key-distribution profile: entropy + effective key count + top-10
    concentration. Top-10 via ORDER BY/LIMIT (TakeOrdered — no global
    window), entropy from Σ c·ln c (one pass, map-side combinable)."""
    return f"""
        SELECT '{table}.{key}' AS shuffle_key,
               t.n_keys,
               {R("t.entropy", 4)} AS entropy_nats,
               CAST(floor(exp(t.entropy) + 0.5e0) AS BIGINT)
                   AS effective_keys,
               {R("p10.top10_c * 1e0 / t.n_rows", 6)} AS top10_share,
               CASE WHEN p10.top10_c * 1e0 / t.n_rows > 0.5e0
                    THEN 1 ELSE 0 END AS salt_recommended
        FROM (
            SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
                   ln(sum(c)) - sum(c * ln(c)) / sum(c) AS entropy
            FROM (SELECT {key} AS k, count(*) AS c
                  FROM {table} GROUP BY {key})
        ) t CROSS JOIN (
            SELECT CAST(sum(c) AS BIGINT) AS top10_c FROM (
                SELECT count(*) AS c FROM {table} GROUP BY {key}
                ORDER BY count(*) DESC, {key} LIMIT 10
            )
        ) p10
    """


_SKEW_SQL = (
    " UNION ALL ".join([
        _skew_block("lineitem", "l_partkey"),
        _skew_block("orders", "o_custkey"),
        _skew_block("events", "event_type"),
    ])
    + " ORDER BY shuffle_key"
)


def shuffle_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profile: Shannon entropy of the key distribution,
    its exponential (effective number of uniform keys — the honest
    parallelism a shuffle on this key can reach), and top-10-key
    concentration with a salt recommendation. The planning twin of
    join_explosion_audit: explosion says the join output is too big,
    this says the shuffle itself will be one-reducer-bound. Entropy is
    computed as ln(N) - Σc·ln(c)/N — one algebraic aggregate over the
    per-key histogram, no second pass; top-10 is TakeOrdered, not a
    global window."""
    load_tables(spark, sf_dir)
    return spark.sql(_SKEW_SQL)


_EQUIDEPTH_SQL = """
    WITH q AS (
        SELECT {b1} AS b1, {b2} AS b2, {b3} AS b3 FROM orders
    ),
    b AS (
        SELECT CASE WHEN o_totalprice < q.b1 THEN 0
                    WHEN o_totalprice < q.b2 THEN 1
                    WHEN o_totalprice < q.b3 THEN 2
                    ELSE 3 END AS bucket,
               o_totalprice AS p
        FROM orders CROSS JOIN q
    )
    SELECT bucket, count(*) AS n,
           {lo} AS lo, {hi} AS hi, {total} AS total
    FROM b GROUP BY bucket ORDER BY bucket
"""


def equidepth_price_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quartile-boundary) histogram of order prices — the
    histogram a CBO keeps for selectivity: every bucket holds ≈ 25% of
    rows regardless of value skew, unlike price_histogram's fixed-width
    bins. Two passes: a 1-row exact-quantile aggregate broadcasts back
    into a streaming bucket count (never a global sort / ntile).

    Boundary determinism: interpolated quantile boundaries land either
    exactly ON a data value (f = 0 → both engines select, not compute)
    or strictly OFF the money grid all data sits on, so the `<`
    comparisons classify identically despite interpolation-order ulps."""
    load_tables(spark, sf_dir)
    return spark.sql(_EQUIDEPTH_SQL.format(
        b1="percentile(o_totalprice, 0.25e0)",
        b2="percentile(o_totalprice, 0.5e0)",
        b3="percentile(o_totalprice, 0.75e0)",
        lo=R("min(p)", 2),
        hi=R("max(p)", 2),
        total=R("sum(p)", 2),
    ))


def _pca_cells_sql(pair_src: str) -> str:
    """Full (mirrored) covariance matrix as (i, j, cov) rows — the one
    corpus-scale pass of the PCA pipeline; unrounded cells."""
    return f"""
    WITH p AS ({pair_src}),
    agg AS (
        SELECT i, j, count(*) AS n, sum(x * y) AS sxy,
               sum(x) AS sx, sum(y) AS sy
        FROM p GROUP BY i, j
    )
    SELECT i, j, {_COV} AS cov FROM agg
    UNION ALL
    SELECT j AS i, i AS j, {_COV} AS cov
    FROM agg WHERE i < j
    """


PCA_SQUARINGS = 6  # A^(2^6) = 64 effective power-iteration steps


_PCA_TR_SQL = """
    SELECT sum(cov) AS trace, CAST(count(*) AS DOUBLE) AS d2
    FROM {cells} WHERE i = j
"""
_PCA_B0_SQL = """
    SELECT c.i, c.j, c.cov * t.d2 / t.trace AS v
    FROM {cells} c CROSS JOIN {tr} t
"""
_PCA_SQ_SQL = """
    SELECT a.i, b.j, sum(a.v * b.v) AS v
    FROM {prev} a JOIN {prev} b ON a.j = b.i
    GROUP BY a.i, b.j
"""
_PCA_FINAL_SQL = """
    WITH vk AS (SELECT i, sum(v) AS val FROM {bk} GROUP BY i),
    av AS (
        SELECT a.i, sum(a.v * vk.val) AS val
        FROM {b0} a JOIN vk ON vk.i = a.j
        GROUP BY a.i
    ),
    ray AS (
        SELECT sum(vk.val * av.val) / sum(vk.val * vk.val) AS lam_s
        FROM vk JOIN av ON av.i = vk.i
    )
    SELECT CAST(t.d2 AS BIGINT) AS n_dims,
           {lam_out} AS top_eigenvalue,
           {share_out} AS explained_var_share
    FROM ray CROSS JOIN {tr} t
"""


def _pca_oracle() -> str:
    """Single-statement DuckDB spelling: the squaring chain references
    each level twice, so every multiply-referenced CTE is declared
    MATERIALIZED (DuckDB would otherwise inline 2^k copies of the
    corpus-scale covariance aggregate — measured 76× slower)."""
    parts = [f"""WITH p AS ({_DUCK_PAIR_SRC}),
    agg AS MATERIALIZED (
        SELECT i, j, count(*) AS n, sum(x * y) AS sxy,
               sum(x) AS sx, sum(y) AS sy
        FROM p GROUP BY i, j
    ),
    cells AS (
        SELECT i, j, {_COV} AS cov FROM agg
        UNION ALL
        SELECT j AS i, i AS j, {_COV} AS cov FROM agg WHERE i < j
    ),
    tr AS MATERIALIZED ({_PCA_TR_SQL.format(cells="cells")}),
    b0 AS MATERIALIZED ({_PCA_B0_SQL.format(cells="cells", tr="tr")})"""]
    for k in range(PCA_SQUARINGS):
        parts.append(f"""b{k + 1} AS MATERIALIZED (
        {_PCA_SQ_SQL.format(prev=f"b{k}")})""")
    body = ",\n    ".join(parts)
    final = _PCA_FINAL_SQL.format(
        bk=f"b{PCA_SQUARINGS}", b0="b0", tr="tr",
        lam_out=R("ray.lam_s * t.trace / t.d2", 6),
        share_out=R("ray.lam_s / t.d2", 6),
    )
    # _PCA_FINAL_SQL opens its own WITH; splice its CTEs into ours
    return body + ",\n" + final.replace("WITH ", "", 1)


def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding space by MATRIX SQUARING
    power iteration: one corpus-scale covariance pass, then
    {PCA_SQUARINGS} squarings of the broadcast-sized d×d cell table
    give A^64 — equivalent to 64 matvec steps, enough to close even
    near-degenerate spectra ((λ₂/λ₁)^128 ≈ 1e-4 on the random-vector
    fixture; anchored against numpy eigvalsh in tests). λ₁ is the
    Rayleigh quotient of v = A^64·1.

    Design history, measured: per-step normalized CTE chains inline
    EXPONENTIALLY (each step references its predecessor twice — hangs
    beyond ~8 levels); an unnormalized 40-step linear chain was
    accurate but cost ~37 s (40 shuffle stages); squaring needs 6
    materialized steps ≈ 1 s. Overflow/underflow is impossible: the
    trace-scaled matrix has mean eigenvalue exactly 1, so λ'₁ ≥ 1 and
    ≤ d. Each squaring level MATERIALIZES (both engines — Spark via
    session.materialize, DuckDB via AS MATERIALIZED)."""
    load_tables(spark, sf_dir)
    cells = materialize(spark.sql(_pca_cells_sql(_SPARK_PAIR_SRC)))
    cells.createOrReplaceTempView("pca_cells")
    materialize(
        spark.sql(_PCA_TR_SQL.format(cells="pca_cells"))
    ).createOrReplaceTempView("pca_tr")
    materialize(
        spark.sql(_PCA_B0_SQL.format(cells="pca_cells", tr="pca_tr"))
    ).createOrReplaceTempView("pca_b0")
    for k in range(PCA_SQUARINGS):
        materialize(
            spark.sql(_PCA_SQ_SQL.format(prev=f"pca_b{k}"))
        ).createOrReplaceTempView(f"pca_b{k + 1}")
    return spark.sql(_PCA_FINAL_SQL.format(
        bk=f"pca_b{PCA_SQUARINGS}", b0="pca_b0", tr="pca_tr",
        lam_out=R("ray.lam_s * t.trace / t.d2", 6),
        share_out=R("ray.lam_s / t.d2", 6),
    ))


QUERIES = {
    "equidepth_price_buckets": equidepth_price_buckets,
    "pca_top_component": pca_top_component,
    "embedding_covariance": embedding_covariance,
    "join_explosion_audit": join_explosion_audit,
    "shuffle_skew_profile": shuffle_skew_profile,
    "benford_first_digit": benford_first_digit,
    "referential_integrity_audit": referential_integrity_audit,
    "k_anonymity_audit": k_anonymity_audit,
    "label_separation_scores": label_separation_scores,
    "weighted_sample_topk": weighted_sample_topk,
    "dq_check_summary": dq_check_summary,
    "embedding_dim_stats": embedding_dim_stats,
    "orders_profile": orders_profile,
    "systematic_sample_stats": systematic_sample_stats,
    "stratified_sample_counts": stratified_sample_counts,
    "price_quantiles": price_quantiles,
    "price_histogram": price_histogram,
}


def _duck_profile() -> str:
    branches = []
    for col, _ in _PROFILE_COLS:
        branches.append(f"""
            SELECT '{col}' AS column_name,
                   count(*) AS n_rows,
                   count(*) - count({col}) AS n_nulls,
                   count(DISTINCT {col}) AS n_distinct,
                   CAST(min({col}) AS VARCHAR) AS min_str,
                   CAST(max({col}) AS VARCHAR) AS max_str
            FROM orders
        """)
    return " UNION ALL ".join(branches) + " ORDER BY column_name"


_DUCK_PAIR_SRC = f"""
            SELECT t.pos - 1 AS i, CAST(embedding[t.pos] AS DOUBLE) AS x,
                   u.pos - 1 AS j, CAST(embedding[u.pos] AS DOUBLE) AS y
            FROM embeddings,
                 (SELECT unnest(range(1, {EMB_DIM} + 1)) AS pos) t,
                 (SELECT unnest(range(1, {EMB_DIM} + 1)) AS pos) u
            WHERE t.pos <= u.pos
        """

ORACLE = {
    "equidepth_price_buckets": _EQUIDEPTH_SQL.format(
        b1="quantile_cont(o_totalprice, 0.25e0)",
        b2="quantile_cont(o_totalprice, 0.5e0)",
        b3="quantile_cont(o_totalprice, 0.75e0)",
        lo=R("min(p)", 2),
        hi=R("max(p)", 2),
        total=R("sum(p)", 2),
    ),
    "pca_top_component": _pca_oracle(),
    "embedding_covariance": _COV_SQL.format(
        pair_src=_DUCK_PAIR_SRC,
        cov=R(_COV, 6),
        corr=R(_CORR, 6),
    ),
    "join_explosion_audit": _EXPLOSION_SQL,
    "shuffle_skew_profile": _SKEW_SQL,
    "benford_first_digit": _BENFORD_SQL,
    "referential_integrity_audit": _REF_INTEGRITY_SQL,
    "k_anonymity_audit": _K_ANON_SQL,
    "label_separation_scores": _LABEL_SEP_SQL.format(
        src="""
        WITH vals AS (
            SELECT label, u.i - 1 AS dim, CAST(embedding[u.i] AS DOUBLE) AS v
            FROM embeddings,
                 unnest(range(1, len(embedding) + 1)) AS u(i)
        )""",
        fisher=R(_FISHER, 5),
        eta=R(_ETA, 6),
    ),
    "weighted_sample_topk": _weighted_sample_sql(
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
        " AS BIGINT)"
    ),
    "dq_check_summary": _DQ_SQL,
    "embedding_dim_stats": _EMB_DIM_STATS.format(
        src="""
        WITH vals AS (
            SELECT u.i - 1 AS dim, CAST(embedding[u.i] AS DOUBLE) AS v
            FROM embeddings,
                 unnest(range(1, len(embedding) + 1)) AS u(i)
        )""",
        mean=R("avg(v)", 6),
        sd=R("stddev_samp(v)", 6),
        mn=R("min(v)", 6),
        mx=R("max(v)", 6),
    ),
    "orders_profile": _duck_profile(),
    "systematic_sample_stats": f"""
        SELECT o_orderstatus,
               count(*) AS n_sampled,
               {R("sum(o_totalprice)")} AS sum_price
        FROM orders
        WHERE o_orderkey % 20 = 7
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "stratified_sample_counts": _stratified_sql(
        "CAST(concat('0x', substr(md5(CAST(c.c_custkey AS VARCHAR)), 1, 4))"
        " AS INTEGER) % 100"
    ),
    "price_quantiles": f"""
        SELECT c.c_mktsegment,
               {R("quantile_cont(o.o_totalprice, 0.25)", 4)} AS p25,
               {R("quantile_cont(o.o_totalprice, 0.5)", 4)}  AS p50,
               {R("quantile_cont(o.o_totalprice, 0.75)", 4)} AS p75,
               {R("quantile_cont(o.o_totalprice, 0.9)", 4)}  AS p90
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
    "price_histogram": """
        SELECT CAST(floor(o_totalprice / 50000e0) AS INT) AS bucket,
               CAST(floor(o_totalprice / 50000e0) AS INT) * 50000 AS bucket_lo,
               count(*) AS n
        FROM orders
        GROUP BY 1, 2 ORDER BY bucket
    """,
}


_DELETION_SQL = """
    WITH del AS (
        SELECT c_custkey FROM customer WHERE {bucket} < 5
    ),
    aff_orders AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM del)
    )
    SELECT 'customer' AS table_name,
           (SELECT count(*) FROM customer) AS n_rows,
           (SELECT count(*) FROM del) AS n_affected
    UNION ALL
    SELECT 'orders',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM aff_orders)
    UNION ALL
    SELECT 'lineitem',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM aff_orders))
    ORDER BY table_name
"""


def deletion_impact_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure impact audit: given a deterministic ~5% customer
    deletion set (md5 bucket — reproducible, no RNG), count the rows
    each downstream fact table loses through the FK cascade
    (customer → orders → lineitem). The dry-run a lakehouse performs
    before a GDPR/CCPA delete job — the audit costs two semi-joins,
    never touches row content, and its counts size the rewrite.

    Scale shape: the IN-subqueries compile to broadcast LeftSemi joins
    (the deletion set and its order keys are tiny relative to facts);
    each fact table is scanned once with only its key column read."""
    load_tables(spark, sf_dir)
    return spark.sql(_DELETION_SQL.format(
        bucket="CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 4),"
               " 16, 10) AS INT) % 100"
    ))


QUERIES["deletion_impact_audit"] = deletion_impact_audit
ORACLE["deletion_impact_audit"] = _DELETION_SQL.format(
    bucket="CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4))"
           " AS INTEGER) % 100"
)


_L_DIVERSITY_SQL = f"""
        WITH j AS (
            SELECT c.c_nationkey, c.c_mktsegment, o.o_orderpriority
            FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        ),
        classes AS (
            SELECT c_nationkey, c_mktsegment,
                   count(*) AS class_rows,
                   CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS l_div
            FROM j GROUP BY c_nationkey, c_mktsegment
        )
        SELECT count(*) AS n_classes,
               CAST(min(l_div) AS BIGINT) AS l_diversity,
               CAST(sum(CASE WHEN l_div < 3 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_low_classes,
               CAST(sum(CASE WHEN l_div < 3 THEN class_rows ELSE 0 END)
                   AS BIGINT) AS n_rows_at_risk,
               {R("avg(l_div * 1e0)", 4)} AS avg_l
        FROM classes
"""


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the companion to k_anonymity_audit (Machanavajjhala
    et al., ICDE'06): a class can be large (k-anonymous) yet still leak if
    every member shares the same SENSITIVE value. Over the same
    quasi-identifier pair (c_nationkey, c_mktsegment) joined to orders,
    report per-class distinct-count of the sensitive attribute
    (o_orderpriority): the dataset's l (smallest class diversity), classes
    below l=3, and rows at risk.

    Scale shape: one join pruned to three columns, one grouped
    count-distinct on the QI key (the distinct set per class is bounded by
    the sensitive domain, 5 priorities), then a scalar re-aggregate over
    the QI-domain-sized class table. Identical SQL on both engines."""
    load_tables(spark, sf_dir)
    return spark.sql(_L_DIVERSITY_SQL)


QUERIES["l_diversity_audit"] = l_diversity_audit
ORACLE["l_diversity_audit"] = _L_DIVERSITY_SQL


_ANALYZE_AGG_SQL = """
    SELECT count(*) AS n_rows,
           CAST(count(o_custkey) AS BIGINT) AS nn_custkey,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_custkey,
           CAST(min(o_custkey) AS {str}) AS mn_custkey,
           CAST(max(o_custkey) AS {str}) AS mx_custkey,
           CAST(count(o_orderstatus) AS BIGINT) AS nn_status,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS ndv_status,
           CAST(min(o_orderstatus) AS {str}) AS mn_status,
           CAST(max(o_orderstatus) AS {str}) AS mx_status,
           CAST(count(o_totalprice) AS BIGINT) AS nn_price,
           CAST(count(DISTINCT o_totalprice) AS BIGINT) AS ndv_price,
           CAST(CAST(min(o_totalprice) AS DECIMAL(18, 2)) AS {str})
               AS mn_price,
           CAST(CAST(max(o_totalprice) AS DECIMAL(18, 2)) AS {str})
               AS mx_price,
           CAST(count(o_orderdate) AS BIGINT) AS nn_date,
           CAST(count(DISTINCT o_orderdate) AS BIGINT) AS ndv_date,
           CAST(CAST(min(o_orderdate) AS DATE) AS {str}) AS mn_date,
           CAST(CAST(max(o_orderdate) AS DATE) AS {str}) AS mx_date
    FROM orders
"""

_ANALYZE_OUT_SQL = """
    SELECT 'o_custkey' AS column_name, n_rows, nn_custkey AS n_nonnull,
           ndv_custkey AS ndv, mn_custkey AS min_value,
           mx_custkey AS max_value
    FROM {agg}
    UNION ALL
    SELECT 'o_orderstatus', n_rows, nn_status, ndv_status, mn_status,
           mx_status FROM {agg}
    UNION ALL
    SELECT 'o_totalprice', n_rows, nn_price, ndv_price, mn_price,
           mx_price FROM {agg}
    UNION ALL
    SELECT 'o_orderdate', n_rows, nn_date, ndv_date, mn_date, mx_date
    FROM {agg}
    ORDER BY column_name
"""


def analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS, as an operator:
    per-column row count, non-null count, exact NDV, and min/max for the
    CBO-relevant orders columns — the statistics a cost-based optimizer
    feeds join reordering and selectivity estimates (and the first thing
    a human profiles before tuning a slow query). Numerics emit as
    fixed-scale DECIMAL strings and dates as DATE strings so both
    engines render identically (FIXTURES.md canon rules).

    Scale shape: ONE scan computes every aggregate (Spark's multi
    count-distinct compiles to a single Expand + two-level aggregate);
    the 1-row result is MATERIALIZED before the 4-way UNION unpivot so
    CTE inlining cannot replay the scan per branch (the DuckDB oracle
    pins the same shape with AS MATERIALIZED)."""
    load_tables(spark, sf_dir)
    materialize(
        spark.sql(_ANALYZE_AGG_SQL.format(str="STRING"))
    ).createOrReplaceTempView("analyze_agg_v")
    return spark.sql(_ANALYZE_OUT_SQL.format(agg="analyze_agg_v"))


QUERIES["analyze_table_stats"] = analyze_table_stats
ORACLE["analyze_table_stats"] = (
    "WITH agg AS MATERIALIZED ("
    + _ANALYZE_AGG_SQL.format(str="VARCHAR")
    + ") "
    + _ANALYZE_OUT_SQL.format(agg="agg")
)


# --- differentially-private count release ----------------------------------

DP_EPSILON = 1.0  # per-release privacy budget; sensitivity 1 => b = 1/eps
DP_SEED = 7  # release seed folded into the noise hash


def _dp_noise_sql(u32_expr: str) -> str:
    """(source x lang) counts + Laplace(1/eps) noise via inverse-CDF over a
    DETERMINISTIC md5-derived uniform (Dwork & Roth, "The Algorithmic
    Foundations of Differential Privacy", §3.3). rand() would be neither
    reproducible nor cross-engine checkable; hashing (key, seed) to
    u in (0,1) gives the exact same release in both engines, and a new
    seed = a fresh draw charged to the budget. u = (v + 0.5)/2^32 is
    half-integer-offset so u != 0.5 exactly and 1 - 2|u - 0.5| >= 2^-32
    (ln stays finite)."""
    return f"""
        WITH g AS (
            SELECT source, lang, CAST(count(*) AS BIGINT) AS n_true
            FROM documents GROUP BY source, lang
        ),
        u AS (
            SELECT source, lang, n_true,
                   (({u32_expr}) + 0.5e0) / 4294967296e0 AS u
            FROM g
        )
        SELECT source, lang, n_true,
               {R("n_true + (CASE WHEN u >= 0.5e0 THEN -1e0 ELSE 1e0 END)"
                  f" * ln(1e0 - 2e0 * abs(u - 0.5e0)) / {DP_EPSILON}e0", 4)}
                   AS n_released
        FROM u ORDER BY source, lang
    """


def dp_noised_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private (source x lang) histogram release: true
    counts plus Laplace(sensitivity/eps) noise, eps = 1. Joins the
    privacy tier next to k_anonymity_audit / l_diversity_audit: those
    AUDIT re-identification risk, this one RELEASES a protected
    aggregate.

    Scale shape: one grouped count (map-side combinable) + a per-group
    scalar projection — the noise is a pure function of the group key,
    so the release is identical on any cluster size or row order."""
    load_tables(spark, sf_dir)
    return spark.sql(_dp_noise_sql(
        f"CAST(conv(substring(md5(concat(source, '|', lang, '|{DP_SEED}')),"
        " 1, 8), 16, 10) AS BIGINT)"
    ))


QUERIES["dp_noised_counts"] = dp_noised_counts
ORACLE["dp_noised_counts"] = _dp_noise_sql(
    f"CAST(concat('0x', substr(md5(concat(source, '|', lang, '|{DP_SEED}')),"
    " 1, 8)) AS BIGINT)"
)


# --- robust per-dimension scaler fit ---------------------------------------


def _robust_scaler_sql(src: str, pctile: str, el) -> str:
    """Per-dim quartiles in ONE exact-percentile aggregate; IQR and Bowley
    (quartile) skewness derive from the three cuts. {el} indexes the
    returned quartile array per dialect."""
    q = "q"
    return f"""
        {src},
        cuts AS (
            SELECT dim, {pctile} AS {q}
            FROM vals GROUP BY dim
        )
        SELECT dim,
               {R(el(q, 1), 6)} AS p25,
               {R(el(q, 2), 6)} AS median,
               {R(el(q, 3), 6)} AS p75,
               {R(f"{el(q, 3)} - {el(q, 1)}", 6)} AS iqr,
               CASE WHEN {el(q, 3)} - {el(q, 1)} = 0e0 THEN NULL
                    ELSE {R(f"({el(q, 3)} + {el(q, 1)} - 2e0 * {el(q, 2)})"
                            f" / ({el(q, 3)} - {el(q, 1)})", 6)}
               END AS bowley_skew
        FROM cuts ORDER BY dim
    """


def embedding_robust_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust scaler fit over the embedding matrix: per-dimension exact
    quartiles, IQR, and Bowley skewness — the outlier-insensitive
    normalization twin of embedding_dim_stats (mean/std break under heavy
    tails; median/IQR do not).

    Scale shape: posexplode to (dim, value) then ONE exact-percentile
    aggregate per dim — d groups in the shuffle, not d x n rows; the
    skewness is per-group arithmetic on the 3-element cut array."""
    load_tables(spark, sf_dir)
    return spark.sql(_robust_scaler_sql(
        """WITH vals AS (
            SELECT pos AS dim, CAST(v AS DOUBLE) AS v
            FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, v
        )""",
        "percentile(v, array(0.25e0, 0.5e0, 0.75e0))",
        lambda arr, i: f"element_at({arr}, {i})",
    ))


QUERIES["embedding_robust_scaler"] = embedding_robust_scaler
ORACLE["embedding_robust_scaler"] = _robust_scaler_sql(
    """WITH vals AS (
        SELECT pos - 1 AS dim, CAST(v AS DOUBLE) AS v
        FROM (
            SELECT unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings
        )
    )""",
    "quantile_cont(v, [0.25e0, 0.5e0, 0.75e0])",
    lambda arr, i: f"{arr}[{i}]",
)


# --- per-source content set-digest -----------------------------------------


def _digest_sql(h60) -> str:
    """Order-independent per-source content digest: bit_xor over a 60-bit
    md5 hash of (doc_id | text). XOR is commutative/associative, so the
    digest is identical for any partitioning, merge order, or shuffle
    plan — the cheap replication/migration equality check two 100 TB
    copies exchange instead of row data (a Merkle-style set digest;
    60 bits keeps the hash inside BIGINT in both engines)."""
    return f"""
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               bit_xor({h60}) AS xor_digest,
               min({h60}) AS min_hash,
               max({h60}) AS max_hash
        FROM documents
        GROUP BY source ORDER BY source
    """


def source_content_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source set digest over document content — equal digests mean
    equal content sets with overwhelming probability; a single changed,
    missing, or duplicated row flips the XOR. One grouped pass,
    map-side combinable."""
    load_tables(spark, sf_dir)
    return spark.sql(_digest_sql(
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), '|', text)),"
        " 1, 15), 16, 10) AS BIGINT)"
    ))


QUERIES["source_content_digests"] = source_content_digests
ORACLE["source_content_digests"] = _digest_sql(
    "CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|',"
    " text)), 1, 15)) AS BIGINT)"
)


# --- t-closeness audit --------------------------------------------------------

T_CLOSE_THRESHOLD_NUM = 1  # classes with t > NUM/DEN are flagged
T_CLOSE_THRESHOLD_DEN = 5

_T_CLOSE_J_SQL = """
    SELECT c.c_nationkey, c.c_mktsegment, o.o_orderpriority AS s
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
"""

# {{hint}}: Spark gets /*+ BROADCAST(d, g) */ so the bounded class x domain
# grid compiles to BroadcastNestedLoop instead of CartesianProduct (the
# 5-row domain side has unknown stats post-aggregate, so the planner will
# not broadcast it unhinted); DuckDB gets the empty string (it has no
# hint syntax; a /*+ */ comment is also fine but pointless).
_T_CLOSENESS_TAIL = f"""
    dom AS (SELECT DISTINCT s FROM j),
    m AS (SELECT count(*) AS m FROM dom),
    cls AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS class_rows
        FROM j GROUP BY c_nationkey, c_mktsegment
    ),
    cnt AS (
        SELECT c_nationkey, c_mktsegment, s, count(*) AS cs
        FROM j GROUP BY c_nationkey, c_mktsegment, s
    ),
    gq AS (
        SELECT s, count(*) * 1e0 / (SELECT count(*) FROM j) AS q
        FROM j GROUP BY s
    ),
    grid AS (
        SELECT {{hint}} cl.c_nationkey, cl.c_mktsegment, cl.class_rows, d.s,
               coalesce(cn.cs, 0) * 1e0 / cl.class_rows - g.q AS diff
        FROM cls cl
        CROSS JOIN dom d
        JOIN gq g ON g.s = d.s
        LEFT JOIN cnt cn ON cn.c_nationkey = cl.c_nationkey
                        AND cn.c_mktsegment = cl.c_mktsegment
                        AND cn.s = d.s
    ),
    cum AS (
        SELECT c_nationkey, c_mktsegment, class_rows,
               abs(sum(diff) OVER (
                   PARTITION BY c_nationkey, c_mktsegment ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   AS acum
        FROM grid
    ),
    tc AS (
        SELECT c_nationkey, c_mktsegment,
               max(class_rows) AS class_rows,
               sum(acum) / (max(m.m) - 1e0) AS t
        FROM cum CROSS JOIN m
        GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           {R("max(t)", 6)} AS t_closeness,
           {R("avg(t)", 6)} AS avg_t,
           CAST(sum(CASE WHEN t * {T_CLOSE_THRESHOLD_DEN}
                         > {T_CLOSE_THRESHOLD_NUM} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_flagged_classes,
           CAST(sum(CASE WHEN t * {T_CLOSE_THRESHOLD_DEN}
                         > {T_CLOSE_THRESHOLD_NUM} THEN class_rows
                    ELSE 0 END) AS BIGINT) AS n_rows_at_risk
    FROM tc
"""


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li, Venkatasubramanian, ICDE'07) — the third
    leg of the privacy trio with k_anonymity_audit / l_diversity_audit: a
    class can be k-anonymous AND l-diverse yet still leak if its sensitive
    distribution differs sharply from the global one. Per QI class
    (c_nationkey, c_mktsegment), t = ordered earth-mover's distance
    between the class and global o_orderpriority distributions:
    sum over the ordered domain of |cumulative(p - q)| / (m - 1).
    Reports the dataset t (max), mean t, and classes/rows above t = 1/5.

    Determinism: p and q are single divisions of exact integers and the
    cumulative window orders by the fixed 5-value domain, so per-class t
    is bit-identical across engines — the threshold flag multiplies
    through by the denominator instead of comparing to a float literal.

    Scale shape: the 3-column join relation j is MATERIALIZED once on the
    Spark side (it is referenced 5x — dom/cls/cnt/glob/total — and CTE
    inlining would replay the fact join per reference); everything after
    the grouped counts runs on the |QI classes| x |domain| grid (domain =
    5 priorities); the window partitions by class over that bounded
    grid."""
    load_tables(spark, sf_dir)
    materialize(spark.sql(_T_CLOSE_J_SQL)).createOrReplaceTempView(
        "tclose_j_v"
    )
    return spark.sql(
        "WITH j AS (SELECT * FROM tclose_j_v),"
        + _T_CLOSENESS_TAIL.format(hint="/*+ BROADCAST(d, g) */")
    )


QUERIES["t_closeness_audit"] = t_closeness_audit
ORACLE["t_closeness_audit"] = (
    "WITH j AS MATERIALIZED (" + _T_CLOSE_J_SQL + "),"
    + _T_CLOSENESS_TAIL.format(hint="")
)


# --- approximate functional-dependency audit -----------------------------------

_FD_SQL = """
    WITH fd1 AS (
        SELECT 'c_nationkey -> c_mktsegment' AS fd,
               CAST(count(*) AS BIGINT) AS n_lhs_values,
               CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating_lhs,
               CAST(sum(n_rows) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN n_rhs > 1 THEN n_rows - max_rhs_rows
                        ELSE 0 END) AS BIGINT) AS n_violation_rows
        FROM (
            SELECT c_nationkey,
                   count(DISTINCT c_mktsegment) AS n_rhs,
                   sum(seg_rows) AS n_rows,
                   max(seg_rows) AS max_rhs_rows
            FROM (
                SELECT c_nationkey, c_mktsegment, count(*) AS seg_rows
                FROM customer GROUP BY c_nationkey, c_mktsegment
            ) g
            GROUP BY c_nationkey
        ) v
    ),
    fd2 AS (
        SELECT 'n_nationkey -> n_regionkey' AS fd,
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(n_rows) AS BIGINT),
               CAST(sum(CASE WHEN n_rhs > 1 THEN n_rows - max_rhs_rows
                        ELSE 0 END) AS BIGINT)
        FROM (
            SELECT n_nationkey,
                   count(DISTINCT n_regionkey) AS n_rhs,
                   sum(rk_rows) AS n_rows,
                   max(rk_rows) AS max_rhs_rows
            FROM (
                SELECT n_nationkey, n_regionkey, count(*) AS rk_rows
                FROM nation GROUP BY n_nationkey, n_regionkey
            ) g GROUP BY n_nationkey
        ) v
    ),
    fd3 AS (
        SELECT 'o_custkey -> o_orderpriority' AS fd,
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(n_rows) AS BIGINT),
               CAST(sum(CASE WHEN n_rhs > 1 THEN n_rows - max_rhs_rows
                        ELSE 0 END) AS BIGINT)
        FROM (
            SELECT o_custkey,
                   count(DISTINCT o_orderpriority) AS n_rhs,
                   sum(pr_rows) AS n_rows,
                   max(pr_rows) AS max_rhs_rows
            FROM (
                SELECT o_custkey, o_orderpriority, count(*) AS pr_rows
                FROM orders GROUP BY o_custkey, o_orderpriority
            ) g GROUP BY o_custkey
        ) v
    )
    SELECT * FROM fd1
    UNION ALL SELECT * FROM fd2
    UNION ALL SELECT * FROM fd3
    ORDER BY fd
"""


def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency discovery (TANE-style g3 error,
    Huhtala et al., Comput. J. 1999) for three candidate FDs: per LHS
    value, does more than one RHS value occur, and how many rows would
    have to be removed to make the FD exact (rows minus the majority
    RHS — the g3 measure). n_nationkey -> n_regionkey must hold exactly
    (it is the schema's real FD); the other two quantify how far the
    data is from accidental dependencies — the profiling signal schema
    designers and CBO join-estimators both want.

    Scale shape: each candidate is one grouped count at (LHS, RHS) grain
    (map-side combinable) re-aggregated per LHS — two grouped passes per
    FD, never a self-join or window; identical SQL text on both
    engines."""
    load_tables(spark, sf_dir)
    return spark.sql(_FD_SQL)


QUERIES["functional_dependency_audit"] = functional_dependency_audit
ORACLE["functional_dependency_audit"] = _FD_SQL


# --- CBO independence-assumption evaluation ----------------------------------

_INDEP_SQL = f"""
    WITH flags AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS p1,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS p2,
               CASE WHEN o_totalprice > 150000e0 THEN 1 ELSE 0 END AS p3
        FROM orders
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(p1) AS BIGINT) AS s1,
               CAST(sum(p2) AS BIGINT) AS s2,
               CAST(sum(p3) AS BIGINT) AS s3,
               CAST(sum(p1 * p2) AS BIGINT) AS a12,
               CAST(sum(p1 * p3) AS BIGINT) AS a13,
               CAST(sum(p2 * p3) AS BIGINT) AS a23
        FROM flags
    )
    SELECT pair, est_rows, actual_rows,
           {R("CASE WHEN actual_rows = 0 OR est_rows = 0e0 THEN 1e6"
              " WHEN est_rows > actual_rows THEN est_rows / actual_rows"
              " ELSE actual_rows / est_rows END", 4)} AS q_error
    FROM (
        SELECT 'priority_x_status' AS pair,
               {R("s1 * 1e0 * s2 / n", 2)} AS est_rows,
               a12 AS actual_rows FROM agg
        UNION ALL
        SELECT 'priority_x_price',
               {R("s1 * 1e0 * s3 / n", 2)}, a13 FROM agg
        UNION ALL
        SELECT 'status_x_price',
               {R("s2 * 1e0 * s3 / n", 2)}, a23 FROM agg
    ) u
    ORDER BY pair
"""


def independence_assumption_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CBO's independence-assumption error, measured: for three
    predicate pairs on orders, the estimated conjunctive cardinality
    sel(a)*sel(b)*n versus the actual count, reported as q-error
    (max(est/act, act/est) — the metric of the cardinality-estimation
    literature, e.g. Leis et al., "How Good Are Query Optimizers,
    Really?", VLDB'15). Correlated predicates are where plan choices go
    wrong; this is the profiling probe that finds them before the
    optimizer does.

    Scale shape: ONE orders scan computes all three marginals and all
    three conjunctions as 0/1 sums (map-side combinable); the output is
    a 3-row projection of that single aggregate row."""
    load_tables(spark, sf_dir)
    return spark.sql(_INDEP_SQL)


QUERIES["independence_assumption_eval"] = independence_assumption_eval
ORACLE["independence_assumption_eval"] = _INDEP_SQL


# --- stale-statistics selectivity evaluation ---------------------------------

STALE_SPLIT = "1999-01-01"  # stats built on data before; queries run after
_STALE_PREDS = [100000, 200000, 300000, 400000]


def _stale_stats_sql(q) -> str:
    preds = " UNION ALL ".join(
        f"SELECT {x}e0 AS x" for x in _STALE_PREDS
    )
    cuts = ", ".join(
        f"{q}(o_totalprice, {i / 10}e0) AS c{i}" for i in range(1, 10)
    )
    est_tenths = " + ".join(
        f"CASE WHEN p.x >= c.c{i} THEN 1 ELSE 0 END" for i in range(1, 10)
    )
    return f"""
        WITH cstats AS (
            SELECT {cuts}
            FROM orders
            WHERE o_orderdate < TIMESTAMP '{STALE_SPLIT} 00:00:00'
        ),
        cur AS (
            SELECT o_totalprice AS v FROM orders
            WHERE o_orderdate >= TIMESTAMP '{STALE_SPLIT} 00:00:00'
        ),
        ncur AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cur),
        preds AS ({preds}),
        est AS (
            SELECT p.x, (({est_tenths}) + 0.5e0) / 10e0 AS est_frac
            FROM preds p CROSS JOIN cstats c
        ),
        act AS (
            SELECT p.x, CAST(count(CASE WHEN cur.v <= p.x THEN 1 END)
                   AS BIGINT) AS actual_rows
            FROM preds p CROSS JOIN cur GROUP BY p.x
        )
        SELECT CAST(e.x AS BIGINT) AS price_cutoff,
               {R("e.est_frac * n.n", 2)} AS est_rows,
               a.actual_rows,
               {R("CASE WHEN a.actual_rows = 0 THEN 1e6"
                  " WHEN e.est_frac * n.n > a.actual_rows"
                  " THEN e.est_frac * n.n / a.actual_rows"
                  " ELSE a.actual_rows / (e.est_frac * n.n) END", 4)}
                   AS q_error
        FROM est e
        JOIN act a ON a.x = e.x
        CROSS JOIN ncur n
        ORDER BY price_cutoff
    """


def stale_stats_selectivity_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stale-statistics selectivity error: the equi-depth decile
    histogram is built on the PRE-{STALE_SPLIT} reference period (as
    ANALYZE would have), then used to estimate `price <= X` selectivity
    on the POST-period data — the half-bucket step estimate every
    histogram-based CBO uses. q-error against the actual counts
    measures what the PSI drift (psi_price_drift) COSTS the optimizer:
    drift in the distribution turns yesterday's histogram into wrong
    plans.

    Scale shape: one exact-percentile pass over the reference (1-row
    broadcast), one counting pass over the current period expanded by
    the 4 fixed predicates (map-side combinable), 4-row output."""
    load_tables(spark, sf_dir)
    return spark.sql(_stale_stats_sql("percentile"))


QUERIES["stale_stats_selectivity_eval"] = stale_stats_selectivity_eval
ORACLE["stale_stats_selectivity_eval"] = _stale_stats_sql("quantile_cont")


# --- histogram quality: equi-width vs equi-depth SSE -----------------------------
HSSE_BUCKETS = 8


def _hsse_sql(q: str) -> str:
    """Optimizer-statistics quality comparison: {HSSE_BUCKETS}-bucket
    EQUI-WIDTH vs EQUI-DEPTH histogram over order price, scored by total
    within-bucket sum of squared error (the V-optimality objective,
    Jagadish et al., "Optimal Histograms with Quality Guarantees",
    VLDB 1998 — lower SSE = better selectivity estimates from the same
    bucket budget). SSE per bucket = var_pop * n, summed; worst single
    bucket reported alongside (the bucket a range predicate will
    mis-estimate hardest)."""
    cuts = ", ".join(
        f"{q.format(p=f'{i / HSSE_BUCKETS}')} AS c{i}"
        for i in range(1, HSSE_BUCKETS)
    )
    depth_case = " ".join(
        f"WHEN o_totalprice <= c.c{i} THEN {i - 1}"
        for i in range(1, HSSE_BUCKETS)
    )
    return f"""
        WITH b AS (
            SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
            FROM orders
        ),
        cuts AS (SELECT {cuts} FROM orders),
        assigned AS (
            SELECT 'equi_width' AS htype,
                   least(CAST(floor((o.o_totalprice - b.lo)
                                    * {HSSE_BUCKETS}e0 / (b.hi - b.lo))
                              AS INT), {HSSE_BUCKETS} - 1) AS bk,
                   o.o_totalprice AS x
            FROM orders o CROSS JOIN b
            UNION ALL
            SELECT 'equi_depth' AS htype,
                   CASE {depth_case} ELSE {HSSE_BUCKETS} - 1 END AS bk,
                   o.o_totalprice AS x
            FROM orders o CROSS JOIN cuts c
        ),
        per_bucket AS (
            SELECT htype, bk, count(*) AS n,
                   var_pop(x) * count(*) AS sse
            FROM assigned GROUP BY htype, bk
        )
        SELECT htype,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(max(n) AS BIGINT) AS max_bucket_rows,
               {R("sum(sse)", 2)} AS total_sse,
               {R("max(sse)", 2)} AS worst_bucket_sse
        FROM per_bucket
        GROUP BY htype
        ORDER BY htype
    """


def histogram_sse_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width vs equi-depth histogram SSE on order price (see
    _hsse_sql) — which {HSSE_BUCKETS}-bucket statistic the optimizer
    should keep; pairs with stale_stats_selectivity_eval (what bad
    buckets COST) and equidepth_price_buckets (the depth cuts
    themselves).

    Scale shape: one exact-percentile pass for the depth cuts (1-row
    broadcast), one bucketing scan per layout folded into a single
    UNION ALL pass, then a 16-row rollup — var_pop is map-combinable, so
    SSE never materializes per-row differences."""
    load_tables(spark, sf_dir)
    return spark.sql(_hsse_sql("percentile(o_totalprice, {p}e0)"))


QUERIES["histogram_sse_comparison"] = histogram_sse_comparison
ORACLE["histogram_sse_comparison"] = _hsse_sql(
    "quantile_cont(o_totalprice, {p}e0)"
)


# --- k-anonymity generalization ladder ---------------------------------------
KGEN_TARGET = 10
# generalization levels for the numeric quasi-identifier c_acctbal:
# exact cents -> $10 bands -> $100 bands -> $1000 bands -> suppressed
KGEN_WIDTHS = (0, 10, 100, 1000, -1)  # 0 = raw, -1 = suppress


def _kgen_sql() -> str:
    levels = []
    for lvl, w in enumerate(KGEN_WIDTHS):
        if w == 0:
            expr = "CAST(floor(c_acctbal) AS BIGINT)"
        elif w == -1:
            expr = "CAST(0 AS BIGINT)"
        else:
            expr = f"CAST(floor(c_acctbal / {w}) AS BIGINT)"
        levels.append(
            f"SELECT {lvl} AS level, c_nationkey, {expr} AS bal_g"
            " FROM customer"
        )
    union = "\n            UNION ALL\n            ".join(levels)
    return f"""
        WITH g AS (
            {union}
        ),
        classes AS (
            SELECT level, c_nationkey, bal_g, count(*) AS n
            FROM g GROUP BY level, c_nationkey, bal_g
        ),
        per_level AS (
            SELECT level,
                   count(*) AS n_classes,
                   min(n) AS k_achieved,
                   sum(CASE WHEN n < {KGEN_TARGET} THEN n ELSE 0 END)
                       AS rows_below_k
            FROM classes GROUP BY level
        ),
        chosen AS (
            SELECT min(level) AS lvl FROM per_level
            WHERE k_achieved >= {KGEN_TARGET}
        )
        SELECT CAST(p.level AS BIGINT) AS level,
               CAST(p.n_classes AS BIGINT) AS n_classes,
               CAST(p.k_achieved AS BIGINT) AS k_achieved,
               CAST(p.rows_below_k AS BIGINT) AS rows_below_k,
               CASE WHEN p.level = c.lvl THEN 1 ELSE 0 END AS chosen
        FROM per_level p CROSS JOIN chosen c
        ORDER BY p.level
    """


def k_anon_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal-generalization search (the core move of Samarati/Sweeney
    k-anonymization, IEEE S&P 1998 / IJUFKS 2002): widen the numeric
    quasi-identifier c_acctbal through a fixed ladder (raw -> $10 ->
    $100 -> $1000 bands -> suppressed) next to c_nationkey until every
    equivalence class reaches k >= {KGEN_TARGET}; report each level's k,
    class count and under-k row mass, and flag the first level that
    satisfies the target — the utility-vs-privacy frontier
    k_anonymity_audit (fixed QI) only points at.

    Scale shape: one UNION ALL scan per ladder level folded into a single
    grouped count keyed by (level, QI) — map-combinable; everything after
    is per-level rollups over the class table (QI-domain-bounded)."""
    load_tables(spark, sf_dir)
    return spark.sql(_kgen_sql())


QUERIES["k_anon_generalization_ladder"] = k_anon_generalization_ladder
ORACLE["k_anon_generalization_ladder"] = _kgen_sql()


# --- Benford chi-square audit -------------------------------------------------------
# Benford's law (1938; Hill, Statist. Sci. 1995): first significant
# digits of naturally-occurring multi-scale amounts follow
# P(d) = log10(1 + 1/d). Fabricated or constrained numbers don't — the
# forensic-accounting screen auditors run on invoice totals. The
# round-3 benford_first_digit op above SHOWS the digit distribution;
# this one TESTS it: the chi-square against Benford is reported per
# digit AND totalled with the df=8 critical-value flag. TPC-H's uniform
# price generator is mid-scale constrained, so the audit flags it — the
# point of the screen is the measurement.
BENFORD_CHI2_95 = 15.507  # chi-square 0.95 critical value, df = 8

_BENFORD_AUDIT_SQL = f"""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                    AS {{STR}}), 1, 1) AS INT) AS digit
        FROM orders WHERE o_totalprice >= 1
    ),
    n AS (SELECT count(*) AS total FROM d),
    obs AS (
        SELECT digit, count(*) AS c FROM d GROUP BY digit
    ),
    digits AS ({{DIGITS}}),
    j AS (
        SELECT dg.digit,
               coalesce(o.c, 0) AS c,
               log10(1e0 + 1e0 / dg.digit) AS exp_p
        FROM digits dg LEFT JOIN obs o ON o.digit = dg.digit
    )
    SELECT j.digit, CAST(j.c AS BIGINT) AS n_orders,
           {R("j.c * 1e0 / n.total", 6)} AS observed_frac,
           {R("j.exp_p", 6)} AS benford_frac,
           {R("(j.c - n.total * j.exp_p) * (j.c - n.total * j.exp_p)"
              " / (n.total * j.exp_p)", 4)} AS chi2_term,
           {R("t.chi2", 4)} AS chi2_total,
           CAST(t.chi2 > {BENFORD_CHI2_95} AS INT) AS flagged
    FROM j CROSS JOIN n
    CROSS JOIN (
        SELECT sum((j2.c - n2.total * j2.exp_p)
                   * (j2.c - n2.total * j2.exp_p)
                   / (n2.total * j2.exp_p)) AS chi2
        FROM (SELECT dg.digit, coalesce(o.c, 0) AS c,
                     log10(1e0 + 1e0 / dg.digit) AS exp_p
              FROM digits dg LEFT JOIN obs o ON o.digit = dg.digit) j2
        CROSS JOIN n n2
    ) t
    ORDER BY j.digit
"""


def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of order totals vs Benford's law with the
    per-digit and total chi-square (see _BENFORD_AUDIT_SQL) — the forensic
    data-quality screen for amount columns; `flagged` fires when the
    digit profile is inconsistent with a naturally-scaled amount
    distribution (TPC-H's uniform generator IS flagged — correct
    behavior, the audit detects synthetic pricing).

    Scale shape: one projection + one 9-bucket grouped count over the
    scan; everything after runs on the 9-row digit relation. Map-side
    combinable, output O(1)."""
    load_tables(spark, sf_dir)
    return spark.sql(
        _BENFORD_AUDIT_SQL
        .replace("{STR}", "STRING")
        .replace("{DIGITS}", "SELECT explode(sequence(1, 9)) AS digit")
    )


QUERIES["benford_price_audit"] = benford_price_audit
ORACLE["benford_price_audit"] = (
    _BENFORD_AUDIT_SQL
    .replace("{STR}", "VARCHAR")
    .replace("{DIGITS}", "SELECT unnest(range(1, 10)) AS digit")
)
