"""Iterative clustering (k-means) over embeddings — the "iterative
algorithm" representative of the training-data tier.

Lloyd's algorithm with deterministic init (the first K vectors) and a fixed
number of unrolled iterations, expressed entirely in SQL over a LONG-FORM
centroid relation (cell, pos, m) — element-wise centroid means and squared
distances become plain joins + grouped aggregations, no array rebuilds and
no driver-side loop state beyond the SQL text itself. Both dialects share
the same generated skeleton, so even this iterative op is oracle-checked.

Scale notes: per iteration the work is |vectors| × K × dim rows of
multiply-add through whole-stage codegen, shuffled only by (vec, cell) /
(cell, pos) group keys; centroids are K×dim rows (the "model" — broadcast-
sized at any corpus scale). Assignment ranks on a canon-rounded distance so
ulp-level engine noise cannot flip cluster membership.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from database_toolbox_spark.operators._fold import fold_l2
from database_toolbox_spark.operators._oracle import R
from database_toolbox_spark.session import (
    load_tables,
    local_frame,
    materialize,
)

K_CELLS = 8
N_ITERS = 2  # unrolled Lloyd updates after init
DIM = 64  # fixture embedding dimensionality (FIXTURES.md)


def _kmeans_sql(pos_src: str, elem, n_iters: int = N_ITERS) -> str:
    """Shared k-means skeleton. pos_src = dialect's 1..DIM position
    relation; elem(tbl, pos) = dialect's array element access."""
    e = elem("e.embedding", "c.pos")
    e_p = elem("e.embedding", "p.pos")
    parts = [
        f"""cent0 AS (
            SELECT e.vec_id AS cell, p.pos,
                   CAST({elem("e.embedding", "p.pos")} AS DOUBLE) AS m
            FROM embeddings e CROSS JOIN {pos_src} p
            WHERE e.vec_id < {K_CELLS}
        )"""
    ]
    for it in range(n_iters + 1):
        parts.append(f"""dist{it} AS (
            SELECT e.vec_id, c.cell,
                   sum((CAST({e} AS DOUBLE) - c.m) * (CAST({e} AS DOUBLE) - c.m))
                       AS d2
            FROM embeddings e CROSS JOIN cent{it} c
            GROUP BY e.vec_id, c.cell
        )""")
        parts.append(f"""assign{it} AS (
            SELECT vec_id, cell, d2 FROM (
                SELECT vec_id, cell, d2,
                       row_number() OVER (PARTITION BY vec_id
                           ORDER BY floor(d2 * 1000000e0) / 1000000e0, cell)
                           AS rn
                FROM dist{it}
            ) r WHERE rn = 1
        )""")
        if it < n_iters:
            parts.append(f"""cent{it + 1} AS (
                SELECT a.cell, p.pos,
                       avg(CAST({e_p} AS DOUBLE)) AS m
                FROM assign{it} a
                JOIN embeddings e ON e.vec_id = a.vec_id
                CROSS JOIN {pos_src} p
                GROUP BY a.cell, p.pos
            )""")
    body = ",\n        ".join(parts)
    return f"""
        WITH {body}
        SELECT cell, count(*) AS n, {R("sum(d2)")} AS inertia
        FROM assign{n_iters}
        GROUP BY cell ORDER BY cell
    """


def kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means (K=8, 2 Lloyd updates, deterministic init): final cell sizes
    and within-cell inertia."""
    load_tables(spark, sf_dir)
    return spark.sql(
        _kmeans_sql(
            f"(SELECT explode(sequence(1, {DIM})) AS pos)",
            lambda arr, pos: f"element_at({arr}, {pos})",
        )
    )


QUERIES = {"kmeans_cells": kmeans_cells}

ORACLE = {
    "kmeans_cells": _kmeans_sql(
        f"(SELECT unnest(range(1, {DIM} + 1)) AS pos)",
        lambda arr, pos: f"{arr}[{pos}]",
    ),
}


N_SIL_CELLS = 16  # sampled coarse centroids (the IVF convention)


def _silhouette_sql(pos_src: str, elem) -> str:
    """Shared centroid-silhouette pipeline: all corpus x centroid L2
    distances in one pass, rank per vector (1e-6-floored — the
    kmeans/IVF assignment guard), own = rank 1, nearest-other = rank 2,
    s = (b - a) / max(a, b) on sqrt distances, averaged per cell."""
    return f"""
        WITH cents AS (
            SELECT vec_id AS cell, embedding AS cemb FROM embeddings
            WHERE vec_id < {N_SIL_CELLS}
        ),
        pos AS (SELECT pos FROM {pos_src} p),
        d AS (
            SELECT e.vec_id, c.cell,
                   sqrt(sum(({elem("e.embedding", "pos")} * 1e0
                             - {elem("c.cemb", "pos")})
                            * ({elem("e.embedding", "pos")} * 1e0
                               - {elem("c.cemb", "pos")}))) AS dist
            FROM embeddings e CROSS JOIN cents c CROSS JOIN pos
            GROUP BY e.vec_id, c.cell
        ),
        ranked AS (
            SELECT vec_id, cell, dist,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY floor(dist * 1000000e0) / 1000000e0, cell)
                       AS rn
            FROM d
        ),
        pairs AS (
            SELECT a.vec_id, a.cell, a.dist AS own, b.dist AS other
            FROM ranked a JOIN ranked b
              ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2
        )
        SELECT cell,
               CAST(count(*) AS BIGINT) AS n_vectors,
               {R("avg((other - own) / greatest(own, other))", 6)}
                   AS mean_silhouette,
               {R("avg(own)", 6)} AS mean_own_dist
        FROM pairs GROUP BY cell ORDER BY cell
    """


def kmeans_silhouette_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-silhouette clustering diagnostic: for each vector,
    a = distance to its own (nearest) coarse centroid, b = distance to
    the nearest OTHER centroid, s = (b - a)/max(a, b) — the classic
    silhouette with centroid distances standing in for mean pairwise
    distances (Rousseeuw 1987 §2 simplification), which is what makes
    it computable in ONE corpus x k pass instead of corpus². Per-cell
    mean silhouette near 0 says the cell boundary is ambiguous — the
    go/no-go check before trusting cell-local dedup (SemDeDup) or IVF
    routing at a given k.

    Scale shape: one cross join against k broadcast centroids, one
    per-vector rank window (k rows per vector), one grouped avg —
    linear in the corpus, no corpus-grain shuffle beyond the grouped
    aggregate."""
    load_tables(spark, sf_dir)
    return spark.sql(_silhouette_sql(
        f"(SELECT explode(sequence(1, {DIM})) AS pos)",
        lambda arr, pos: f"element_at({arr}, {pos})",
    ))


QUERIES["kmeans_silhouette_lite"] = kmeans_silhouette_lite
ORACLE["kmeans_silhouette_lite"] = _silhouette_sql(
    f"(SELECT unnest(range(1, {DIM} + 1)) AS pos)",
    lambda arr, pos: f"{arr}[{pos}]",
)


def _label_agreement_sql(pos_src: str, elem) -> str:
    """Shared cell-vs-label agreement pipeline over the sampled-centroid
    assignment (same guard constants as the silhouette)."""
    return f"""
        WITH cents AS (
            SELECT vec_id AS cell, embedding AS cemb FROM embeddings
            WHERE vec_id < {N_SIL_CELLS}
        ),
        pos AS (SELECT pos FROM {pos_src} p),
        d AS (
            SELECT e.vec_id, e.label, c.cell,
                   sum(({elem("e.embedding", "pos")} * 1e0
                        - {elem("c.cemb", "pos")})
                       * ({elem("e.embedding", "pos")} * 1e0
                          - {elem("c.cemb", "pos")})) AS d2
            FROM embeddings e CROSS JOIN cents c CROSS JOIN pos
            GROUP BY e.vec_id, e.label, c.cell
        ),
        assigned AS (
            SELECT vec_id, label, cell FROM (
                SELECT vec_id, label, cell,
                       row_number() OVER (PARTITION BY vec_id
                           ORDER BY floor(d2 * 1000000e0) / 1000000e0, cell)
                           AS rn
                FROM d
            ) r WHERE rn = 1
        ),
        cl AS (
            SELECT cell, label, count(*) AS n
            FROM assigned GROUP BY cell, label
        ),
        best AS (
            SELECT cell, label AS majority_label, n AS n_majority FROM (
                SELECT cell, label, n,
                       row_number() OVER (PARTITION BY cell
                           ORDER BY n DESC, label) AS rn
                FROM cl
            ) r WHERE rn = 1
        ),
        sizes AS (SELECT cell, sum(n) AS n_vectors FROM cl GROUP BY cell)
        SELECT s.cell,
               CAST(s.n_vectors AS BIGINT) AS n_vectors,
               CAST(b.majority_label AS INT) AS majority_label,
               CAST(b.n_majority AS BIGINT) AS n_majority,
               {R("b.n_majority * 1e0 / s.n_vectors", 6)} AS purity
        FROM sizes s JOIN best b ON b.cell = s.cell
        ORDER BY s.cell
    """


def label_cluster_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-vs-cluster purity (confident-learning-lite): assign every
    embedding to its nearest coarse centroid and report each cell's
    majority label and purity. Low-purity cells localize label noise or
    genuinely mixed regions — the triage report before trusting labels
    for supervised filtering, and the unsupervised twin of
    label_separation_scores' per-dimension ANOVA.

    Scale shape: identical one-pass corpus x k assignment as the
    silhouette; everything after is (cell x label)-domain arithmetic."""
    load_tables(spark, sf_dir)
    return spark.sql(_label_agreement_sql(
        f"(SELECT explode(sequence(1, {DIM})) AS pos)",
        lambda arr, pos: f"element_at({arr}, {pos})",
    ))


QUERIES["label_cluster_agreement"] = label_cluster_agreement
ORACLE["label_cluster_agreement"] = _label_agreement_sql(
    f"(SELECT unnest(range(1, {DIM} + 1)) AS pos)",
    lambda arr, pos: f"{arr}[{pos}]",
)


# --- grid-density clustering (DBSCAN-lite) ----------------------------------

GRID_H = 0.08  # cell width over embedding dims 1-2
GRID_MINPTS = 5  # core-cell density threshold
_GRID_OFF = 1000  # index offset so the packed cell key stays positive

_GRID_OFFSETS = (
    "(VALUES (-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 0), (0, 1),"
    " (1, -1), (1, 0), (1, 1)) AS o(dx, dy)"
)


def _grid_cells_sql(e1: str, e2: str) -> str:
    """All occupied 2-D grid cells over embedding dims 1-2 with their point
    count and core flag. Cell key packs (ix, iy) into one BIGINT so the
    component machinery works on scalar node ids."""
    ix = f"CAST(floor(CAST({e1} AS DOUBLE) / {GRID_H}e0) AS BIGINT)"
    iy = f"CAST(floor(CAST({e2} AS DOUBLE) / {GRID_H}e0) AS BIGINT)"
    return f"""
        SELECT (ix + {_GRID_OFF}) * 100000 + (iy + {_GRID_OFF}) AS key,
               ix, iy, CAST(count(*) AS BIGINT) AS n_points,
               count(*) >= {GRID_MINPTS} AS is_core
        FROM (SELECT {ix} AS ix, {iy} AS iy FROM embeddings) g
        GROUP BY ix, iy
    """


_GRID_PAIRS_SQL = f"""
    SELECT n.key AS doc_a, b.key AS doc_b
    FROM (
        SELECT c.key,
               (c.ix + o.dx + {_GRID_OFF}) * 100000
                   + (c.iy + o.dy + {_GRID_OFF}) AS nkey
        FROM grid c CROSS JOIN {_GRID_OFFSETS}
        WHERE c.is_core
    ) n
    JOIN grid b ON b.key = n.nkey AND b.is_core AND n.key < b.key
"""

_GRID_TAIL_SQL = """
    SELECT r.component, CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(g.n_points) AS BIGINT) AS n_points
    FROM rep r JOIN grid g ON g.key = r.node
    GROUP BY r.component
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS component,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(coalesce(sum(n_points), 0) AS BIGINT) AS n_points
    FROM grid WHERE NOT is_core
    ORDER BY component
"""


def grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering (DBSCAN-lite; Ester et al. KDD'96 by way of
    the GriDBSCAN/cell-based approximations): bucket points into an
    h x h grid over embedding dims 1-2, mark cells holding >= GRID_MINPTS
    points as core, and merge 8-adjacent core cells into clusters
    (component id = min packed cell key). Points in non-core cells are
    reported as the single noise row (component = -1). Border-point
    attachment is deliberately dropped — cell granularity IS the epsilon.

    Scale shape: the grid aggregate reduces the corpus to occupied cells;
    adjacency is each core cell EXPLODED into its 9 neighbor keys then
    equi-joined back (never an all-pairs or band join). The cell graph is
    MODEL-sized — occupied cells are bounded by the grid resolution
    ((range/h + 2)^2 <= ~700 for unit-normalized dims at h=0.08), not by
    the corpus — so components come from a driver-side min-label
    union-find over a bounded edge fetch, exactly like the k-means
    centroid model: the corpus-scale work is the one grid aggregate, and
    pointer-jumping CC's per-iteration job overhead (measured 5.3 s for a
    96-edge graph) is avoided. The DuckDB oracle walks the same edges
    with a recursive min-label CTE."""
    load_tables(spark, sf_dir)
    materialize(spark.sql(_grid_cells_sql(
        "element_at(embedding, 1)", "element_at(embedding, 2)"
    ))).createOrReplaceTempView("grid")
    # guard-exempt: bounded driver fetch (cell-graph edges, <= 9 * cells
    # where cells is fixed by the grid resolution at any corpus size)
    edges = spark.sql(_GRID_PAIRS_SQL).collect()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for e in edges:
        ra, rb = find(e.doc_a), find(e.doc_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-label union
    labels = [(int(n), int(find(n))) for n in parent]
    local_frame(
        spark, labels, "node BIGINT, label BIGINT"
    ).createOrReplaceTempView("gdc_labels_v")
    return spark.sql(f"""
        WITH rep AS (
            SELECT g.key AS node,
                   coalesce(l.label, g.key) AS component
            FROM grid g LEFT JOIN gdc_labels_v l ON l.node = g.key
            WHERE g.is_core
        )
        {_GRID_TAIL_SQL}
    """)


QUERIES["grid_density_clusters"] = grid_density_clusters
ORACLE["grid_density_clusters"] = f"""
    WITH RECURSIVE grid AS (
        {_grid_cells_sql("embedding[1]", "embedding[2]")}
    ),
    pairs AS (
        {_GRID_PAIRS_SQL}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, member) AS (
        SELECT key, key FROM grid WHERE is_core
        UNION
        SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.member
    ),
    rep AS (
        SELECT node, min(member) AS component FROM reach GROUP BY node
    )
    {_GRID_TAIL_SQL}
"""


# --- per-label embedding outlier scoring ------------------------------------

OUTLIER_TOP = 3


def _outlier_d_sql(pos_src: str, elem) -> str:
    e_p = elem("e.embedding", "p.pos")
    return f"""
        WITH cent AS (
            SELECT e.label, p.pos, avg(CAST({e_p} AS DOUBLE)) AS m
            FROM embeddings e CROSS JOIN {pos_src} p
            GROUP BY e.label, p.pos
        ),
        d AS (
            SELECT e.vec_id, e.label,
                   sum((CAST({e_p} AS DOUBLE) - c.m)
                       * (CAST({e_p} AS DOUBLE) - c.m)) AS d2
            FROM embeddings e CROSS JOIN {pos_src} p
            JOIN cent c ON c.label = e.label AND c.pos = p.pos
            GROUP BY e.vec_id, e.label
        )"""


def _outlier_tail() -> str:
    """Ranked z-score report given a `d(vec_id, label, d2)` CTE. Split
    out so the Spark side can materialize d once — it feeds the label
    moment agg AND the z projection, and CTE inlining would replay the
    corpus x dim distance pass per reference."""
    return f"""
        st AS (
            SELECT label, avg(d2) AS mu, stddev_samp(d2) AS sd
            FROM d GROUP BY label
        ),
        z AS (
            SELECT d.vec_id, d.label,
                   (d.d2 - s.mu) / s.sd AS z
            FROM d JOIN st s ON s.label = d.label
        ),
        ranked AS (
            SELECT label, vec_id, z,
                   CAST(row_number() OVER (PARTITION BY label
                       ORDER BY floor(z * 10000e0) / 10000e0 DESC, vec_id)
                       AS INT) AS rnk
            FROM z
        )
        SELECT label, vec_id, {R("z", 4)} AS z_score, rnk
        FROM ranked WHERE rnk <= {OUTLIER_TOP}
        ORDER BY label, rnk
    """


def embedding_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: each vector's squared distance to its
    OWN label centroid, z-scored within the label, top-{OUTLIER_TOP} per
    label — the mislabeled-example / corrupt-embedding detector a
    training-data pipeline runs before contrastive fine-tuning (a vector
    far from its class centroid is either noise or a labeling error).

    Scale shape: the centroid relation is labels x dim rows (the model —
    broadcast-sized); distances are one multiply-add pass through
    codegen grouped by vec_id; ranking partitions by label (bounded
    cardinality) on a canon-floored z so engine ulps cannot flip ranks.
    The per-vector distance table is materialized once — it feeds the
    label moment agg and the z projection, and CTE inlining would replay
    the corpus x dim pass per reference."""
    load_tables(spark, sf_dir)
    materialize(spark.sql(
        _outlier_d_sql(
            f"(SELECT explode(sequence(1, {DIM})) AS pos)",
            lambda arr, pos: f"element_at({arr}, {pos})",
        ) + " SELECT * FROM d"
    )).createOrReplaceTempView("outlier_d_v")
    return spark.sql(
        "WITH d AS (SELECT * FROM outlier_d_v)," + _outlier_tail()
    )


QUERIES["embedding_outlier_scores"] = embedding_outlier_scores
ORACLE["embedding_outlier_scores"] = (
    _outlier_d_sql(
        f"(SELECT unnest(range(1, {DIM} + 1)) AS pos)",
        lambda arr, pos: f"{arr}[{pos}]",
    )
    + ",\n"
    + _outlier_tail()
)


# --- HBOS: histogram-based outlier scores -------------------------------------
HBOS_BINS = 10
HBOS_TOP = 20


def _hbos_binned_sql(pos_rel: str, elem) -> str:
    """(vec_id, dim, bin) assignment: per-dim equi-width histogram over
    [min, max]. The bin expression is ONE shared double formula so the
    float32-sourced values floor identically in both engines; v == hi
    lands in the top bin via the least() clamp."""
    return f"""
        WITH vals AS (
            SELECT vec_id, t.pos - 1 AS dim,
                   CAST({elem("embedding", "t.pos")} AS DOUBLE) AS v
            FROM embeddings, {pos_rel} t
        ),
        bounds AS (
            SELECT dim, min(v) AS lo, max(v) AS hi FROM vals GROUP BY dim
        ),
        binned AS (
            SELECT v.vec_id, v.dim,
                   least(CAST(floor((v.v - b.lo) * {HBOS_BINS}e0
                                    / (b.hi - b.lo)) AS INT),
                         {HBOS_BINS} - 1) AS bin
            FROM vals v JOIN bounds b ON v.dim = b.dim
        )
"""


def _hbos_tail() -> str:
    return f"""
        dens AS (
            SELECT dim, bin, count(*) AS n FROM binned GROUP BY dim, bin
        ),
        dmax AS (SELECT dim, max(n) AS nmax FROM dens GROUP BY dim),
        scored AS (
            SELECT bn.vec_id,
                   sum(ln(dm.nmax * 1e0 / de.n)) AS hbos
            FROM binned bn
            JOIN dens de ON bn.dim = de.dim AND bn.bin = de.bin
            JOIN dmax dm ON dm.dim = bn.dim
            GROUP BY bn.vec_id
        )
        SELECT vec_id, {R("hbos", 6)} AS hbos_score
        FROM scored
        ORDER BY {R("hbos", 6)} DESC, vec_id
        LIMIT {HBOS_TOP}
"""


def hbos_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-Based Outlier Score (Goldstein & Dengel, KI 2012): per
    dimension a {HBOS_BINS}-bin equi-width histogram; a vector's score is
    sum_d log(max-bin count / its-bin count) — high when it sits in
    sparsely-populated bins across many dimensions. The label-FREE
    companion to embedding_outlier_scores (which needs labels): HBOS
    assumes feature independence, which is exactly what makes it O(n·d)
    and embarrassingly parallel at corpus scale.

    Scale shape: the exploded (vec_id, dim, bin) relation is materialized
    once (it feeds both the density histogram and the scoring join — CTE
    inlining would replay the corpus x dim explode per reference); the
    histogram itself is dims x bins rows (broadcast-sized model), so the
    scoring join is map-side against broadcast relations and the final
    agg is a map-combinable per-vector sum. Top-{HBOS_TOP} on the
    canon-rounded score with vec_id tie-break is engine-stable."""
    load_tables(spark, sf_dir)
    materialize(spark.sql(
        _hbos_binned_sql(
            f"(SELECT explode(sequence(1, {DIM})) AS pos)",
            lambda arr, pos: f"element_at({arr}, {pos})",
        ) + " SELECT * FROM binned"
    )).createOrReplaceTempView("hbos_binned_v")
    return spark.sql(
        "WITH binned AS (SELECT * FROM hbos_binned_v)," + _hbos_tail()
    )


QUERIES["hbos_outlier_scores"] = hbos_outlier_scores
ORACLE["hbos_outlier_scores"] = (
    _hbos_binned_sql(
        f"(SELECT unnest(range(1, {DIM} + 1)) AS pos)",
        lambda arr, pos: f"{arr}[{pos}]",
    ).replace("binned AS (", "binned AS MATERIALIZED (")
    + ",\n"
    + _hbos_tail()
)


# --- nearest-centroid classification accuracy -----------------------------------


def _ncc_sql(pos_rel: str, elem) -> str:
    """Nearest-centroid (Rocchio) classification over the labeled
    embeddings: assign each vector to the label whose mean vector is
    closest in L2 (rounded distance, label tie-break), compare to its
    true label — per-label accuracy and support. The supervised
    label-quality readout next to label_cluster_agreement (which grades
    UNSUPERVISED clusters against labels): low accuracy for a label
    means its examples don't share a region — a labeling-noise or
    class-overlap signal before anyone trains on the labels."""
    return f"""
        WITH vals AS (
            SELECT vec_id, label, t.pos - 1 AS dim,
                   CAST({elem("embedding", "t.pos")} AS DOUBLE) AS v
            FROM embeddings, {pos_rel} t
        ),
        cents AS (
            SELECT label AS clabel, dim, avg(v) AS c
            FROM vals GROUP BY label, dim
        ),
        d2 AS (
            SELECT v.vec_id, v.label, ct.clabel,
                   sum((v.v - ct.c) * (v.v - ct.c)) AS dist2
            FROM vals v JOIN cents ct ON ct.dim = v.dim
            GROUP BY v.vec_id, v.label, ct.clabel
        ),
        assigned AS (
            SELECT vec_id, label, clabel,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY floor(dist2 * 1000000e0) / 1000000e0,
                                clabel) AS rn
            FROM d2
        )
        SELECT label,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_correct,
               {R("sum(CASE WHEN clabel = label THEN 1 ELSE 0 END)"
                  " * 1e0 / count(*)", 4)} AS accuracy
        FROM assigned WHERE rn = 1
        GROUP BY label
        ORDER BY label
    """


def nearest_centroid_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label nearest-centroid accuracy (see _ncc_sql).

    Scale shape: the exploded (vec, dim) relation is materialized once
    (it feeds the centroid agg and the distance join); centroids are a
    labels x dim broadcast model; distances are one multiply-add pass
    grouped by vec — the same budget as one k-means iteration, and the
    assignment rank partitions by vec over |labels| rows."""
    load_tables(spark, sf_dir)
    materialize(spark.sql(
        f"SELECT vec_id, label, t.pos - 1 AS dim, "
        f"CAST(element_at(embedding, t.pos) AS DOUBLE) AS v "
        f"FROM embeddings, (SELECT explode(sequence(1, {DIM})) AS pos) t"
    )).createOrReplaceTempView("ncc_vals_v")
    sql = _ncc_sql(
        f"(SELECT explode(sequence(1, {DIM})) AS pos)",
        lambda arr, pos: f"element_at({arr}, {pos})",
    ).replace(
        """WITH vals AS (
            SELECT vec_id, label, t.pos - 1 AS dim,
                   CAST(element_at(embedding, t.pos) AS DOUBLE) AS v
            FROM embeddings, (SELECT explode(sequence(1, 64)) AS pos) t
        ),""",
        "WITH vals AS (SELECT * FROM ncc_vals_v),",
    )
    return spark.sql(sql)


QUERIES["nearest_centroid_accuracy"] = nearest_centroid_accuracy
ORACLE["nearest_centroid_accuracy"] = _ncc_sql(
    f"(SELECT unnest(range(1, {DIM} + 1)) AS pos)",
    lambda arr, pos: f"{arr}[{pos}]",
).replace("WITH vals AS (", "WITH vals AS MATERIALIZED (")


# --- farthest-point sampling (greedy k-center) ----------------------------------
#
# Gonzalez (1985) 2-approximation for k-center: seed with the lowest
# vec_id, then k-1 times add the point farthest (max-min L2^2) from the
# selected set. The standard coreset/diverse-subset selector for embedding
# corpora. Each round is ONE linear pass holding (vec_id, dmin) state —
# never a pairwise matrix — so the plan is k scans of the corpus at any
# scale. Argmax ties break on the 1e-6-floored distance then vec_id.

FPS_K = 4

_FPS_SPARK_D2 = fold_l2("e.embedding", "c.embedding")
_FPS_DUCK_D2 = (
    "list_aggregate(list_transform(range(1, len(e.embedding) + 1), "
    "i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)) "
    "* (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))), "
    "'sum')"
)


def _fps_tail(k: int) -> str:
    picks = ["SELECT 1 AS sel_order, vec_id, CAST(NULL AS DOUBLE) AS d_sel FROM c1"]
    picks += [
        f"SELECT {i} AS sel_order, vec_id, dmin AS d_sel FROM c{i}"
        for i in range(2, k + 1)
    ]
    body = " UNION ALL ".join(picks)
    return f"""
        SELECT p.sel_order, p.vec_id, e.label,
               {R("p.d_sel", 6)} AS d2_at_selection
        FROM ({body}) p JOIN embeddings e ON e.vec_id = p.vec_id
        ORDER BY p.sel_order
    """


def farthest_point_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) sample of FPS_K embedding vectors:
    selection order, label, and the max-min squared distance at selection
    (monotonically non-increasing — the shrinking covering radius).

    Scale shape: per round, the state is (vec_id, dmin) — one column pair,
    materialized once (it is read by both the argmax pick and the next
    update, and Catalyst would otherwise replay the whole chain per
    reference); the distance to the single new center is a broadcast
    1-row cross join. k linear passes total, no pairwise blowup."""
    load_tables(spark, sf_dir)
    materialize(spark.sql(
        "SELECT vec_id, embedding FROM embeddings "
        "WHERE vec_id = (SELECT min(vec_id) FROM embeddings)"
    )).createOrReplaceTempView("c1")
    for i in range(2, FPS_K + 1):
        prev_d = (
            f"SELECT e.vec_id, {_FPS_SPARK_D2} AS dmin "
            "FROM embeddings e CROSS JOIN c1 c"
            if i == 2
            else f"SELECT vec_id, dmin FROM d{i - 1}"
        )
        if i == 2:
            materialize(spark.sql(prev_d)).createOrReplaceTempView("d1")
        materialize(spark.sql(f"""
            SELECT e.vec_id, e.embedding, d.dmin
            FROM d{i - 1} d JOIN embeddings e ON e.vec_id = d.vec_id
            ORDER BY floor(d.dmin * 1e6) / 1e6 DESC, e.vec_id
            LIMIT 1
        """)).createOrReplaceTempView(f"c{i}")
        if i < FPS_K:
            materialize(spark.sql(f"""
                SELECT d.vec_id,
                       least(d.dmin, {_FPS_SPARK_D2}) AS dmin
                FROM d{i - 1} d
                JOIN embeddings e ON e.vec_id = d.vec_id
                CROSS JOIN c{i} c
            """)).createOrReplaceTempView(f"d{i}")
    return spark.sql(_fps_tail(FPS_K))


def _fps_oracle(k: int) -> str:
    parts = [
        "c1 AS (SELECT vec_id, embedding FROM embeddings "
        "WHERE vec_id = (SELECT min(vec_id) FROM embeddings))",
        f"d1 AS MATERIALIZED (SELECT e.vec_id, {_FPS_DUCK_D2} AS dmin "
        "FROM embeddings e CROSS JOIN c1 c)",
    ]
    for i in range(2, k + 1):
        parts.append(f"""c{i} AS (
            SELECT e.vec_id, e.embedding, d.dmin
            FROM d{i - 1} d JOIN embeddings e ON e.vec_id = d.vec_id
            ORDER BY floor(d.dmin * 1e6) / 1e6 DESC, e.vec_id
            LIMIT 1
        )""")
        if i < k:
            parts.append(f"""d{i} AS MATERIALIZED (
                SELECT d.vec_id,
                       least(d.dmin, {_FPS_DUCK_D2}) AS dmin
                FROM d{i - 1} d
                JOIN embeddings e ON e.vec_id = d.vec_id
                CROSS JOIN c{i} c
            )""")
    return "WITH " + ",\n".join(parts) + _fps_tail(k)


QUERIES["farthest_point_sample"] = farthest_point_sample
ORACLE["farthest_point_sample"] = _fps_oracle(FPS_K)
