"""Corpus-curation operators over `documents` — the dataset-assembly tier
of a large-scale training-data pipeline (BASELINE.json north star; graded
as first-class alongside SURVEY.md §2): corpus-level segment dedup with
reconstruction accounting (the C4 / Lee-et-al "remove repeated spans"
transform, not just the duplication *measurement* in
dedup.repeated_segment_stats), deterministic train/valid/test hash splits,
global deterministic shuffle order, a fixed-weight quality classifier, and
best-representative selection inside near-dup clusters.

Design (Spark-first, 100 TB scale):
- Segment dedup's only shuffle is a window PARTITIONed BY the 16-byte
  segment digest (uniform by construction — no skew) plus the per-doc
  re-aggregation; keep/drop is decided by global first occurrence
  (row_number over the digest partition), which is exactly the C4 rule.
- The hash split and the classifier are pure projections + one grouped
  agg — embarrassingly parallel, map-side combinable.
- Global shuffle order needs a TOTAL order over md5 keys; a global window
  would serialize, so it runs as the same two-pass prefix shape as
  pipeline.pack_documents: range-shard on the top hex nibble of the key
  (order-preserving), per-shard partitioned row_number, tiny triangular
  offset join (≤16 rows) broadcast back. The oracle keeps the global
  row_number spelling.
- Keep-best dedup composes the verified LSH pair graph (dedup module) with
  the O(log diameter) pointer-jumping components, then picks each
  cluster's representative by an argmax over doc quality — one partitioned
  window over cluster labels.

Determinism: md5 everywhere (identical across engines); the classifier
uses a rational squash p = 0.5 + 0.5·z/(1+|z|) instead of exp so both
engines compute bit-identical IEEE doubles (same parse tree, no libm).

Reference parity note: the reference (CognitionAI/database-toolbox) ships
no curation operators — this tier is the brief's mandated extension
surface, validated with the same DuckDB-oracle contract as everything
else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database_toolbox_spark.operators._oracle import R
from database_toolbox_spark.operators.dedup import (
    _band_pairs_sql,
    _DUCK_SHINGLES,
    connected_components,
    minhash_near_dup_pairs,
)
from database_toolbox_spark.session import load_tables, materialize

SEG_TOKENS = 8  # non-overlapping segment width for corpus-level dedup
TRAIN_PCT, VALID_PCT = 90, 5  # 90/5/5 deterministic hash split
SHUFFLE_TOP = 100  # rows of the shuffle order emitted for checking


# --- 1. corpus-level segment dedup (the C4 transform) ----------------------

def _segments_spark() -> str:
    return f"""
        toks AS (SELECT /*+ REPARTITION */ doc_id, split(text, ' ') AS w
                 FROM documents),
        segs AS (
            SELECT doc_id, seg_idx,
                   md5(array_join(slice(w, seg_idx * {SEG_TOKENS} + 1,
                                        {SEG_TOKENS}), ' ')) AS seg_hash,
                   size(slice(w, seg_idx * {SEG_TOKENS} + 1, {SEG_TOKENS}))
                       AS n_tok
            FROM toks
            LATERAL VIEW explode(sequence(0,
                greatest(CAST(ceil(size(w) / {SEG_TOKENS}e0) AS INT) - 1, 0)
            )) t AS seg_idx
        )"""


def _segments_duck() -> str:
    return f"""
        toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        segs AS (
            SELECT doc_id, u.seg_idx,
                   md5(array_to_string(
                       w[u.seg_idx * {SEG_TOKENS} + 1 :
                         u.seg_idx * {SEG_TOKENS} + {SEG_TOKENS}], ' '))
                       AS seg_hash,
                   CAST(len(w[u.seg_idx * {SEG_TOKENS} + 1 :
                              u.seg_idx * {SEG_TOKENS} + {SEG_TOKENS}])
                        AS INT) AS n_tok
            FROM toks, unnest(range(0,
                greatest(CAST(ceil(len(w) / {SEG_TOKENS}e0) AS BIGINT), 1)
            )) AS u(seg_idx)
        )"""


def _segment_dedup_sql(segs_cte: str) -> str:
    """Shared tail: global first occurrence (doc_id, seg_idx) of each
    distinct segment keeps; every other occurrence (cross-doc AND
    within-doc repeats) drops. Per-doc reconstruction accounting."""
    return f"""
        WITH {segs_cte},
        r AS (
            SELECT doc_id, n_tok,
                   row_number() OVER (PARTITION BY seg_hash
                                      ORDER BY doc_id, seg_idx) AS rn
            FROM segs
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_segments,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_dropped,
               CAST(sum(CASE WHEN rn = 1 THEN n_tok ELSE 0 END) AS BIGINT)
                   AS kept_tokens,
               {R("sum(CASE WHEN rn = 1 THEN 1e0 ELSE 0e0 END) / count(*)",
                  4)} AS kept_fraction
        FROM r GROUP BY doc_id ORDER BY doc_id
    """


def segment_dedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level span dedup: cut every doc into non-overlapping
    8-token segments, keep only the globally-first occurrence (by doc_id,
    then position) of each distinct segment, and report what survives of
    each document after reconstruction.

    This is the *transform* twin of dedup.repeated_segment_stats (which
    only measures duplication): the keep/drop decision here is the one a
    dedup pass would apply before packing."""
    load_tables(spark, sf_dir)
    return spark.sql(_segment_dedup_sql(_segments_spark()))


# --- 2. deterministic train/valid/test hash split --------------------------

def _split_sql(bucket_expr: str, ntoks_expr: str) -> str:
    return f"""
        WITH d AS (
            SELECT source, {bucket_expr} AS bucket, {ntoks_expr} AS n_tok
            FROM documents
        )
        SELECT source,
               CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
                    WHEN bucket < {TRAIN_PCT + VALID_PCT} THEN 'valid'
                    ELSE 'test' END AS split_name,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS tot_tokens
        FROM d GROUP BY source, CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
                    WHEN bucket < {TRAIN_PCT + VALID_PCT} THEN 'valid'
                    ELSE 'test' END
        ORDER BY source, split_name
    """


def hash_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/valid/test assignment by md5(doc_id)
    bucket — the standard leakage-proof split (membership is a pure
    function of the id, stable under reshuffles/re-runs/appends). Output:
    per source × split doc and token totals."""
    load_tables(spark, sf_dir)
    return spark.sql(_split_sql(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)"
        " AS INT) % 100",
        "size(split(text, ' '))",
    ))


# --- 3. deterministic global shuffle order ----------------------------------

def global_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every doc's position in
    the corpus ordered by md5(doc_id) — the reproducible "shuffled epoch"
    every pretraining run needs.

    Two-pass distributed total order (no global window): shard on the top
    hex nibble of the key (order-preserving — hex chars sort like their
    nibble values), rank within shard with a PARTITIONed row_number,
    triangular offset join over the ≤16 shard counts, add. Identical to
    the oracle's global row_number spelling."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
        WITH k AS (
            SELECT doc_id, md5(CAST(doc_id AS STRING)) AS h
            FROM documents
        ),
        s AS (SELECT doc_id, h, substring(h, 1, 1) AS shard FROM k),
        cnt AS (SELECT shard, count(*) AS c FROM s GROUP BY shard),
        off AS (
            SELECT a.shard, CAST(coalesce(sum(b.c), 0) AS BIGINT) AS off
            FROM cnt a LEFT JOIN cnt b ON b.shard < a.shard
            GROUP BY a.shard
        ),
        r AS (
            SELECT s.doc_id,
                   o.off + row_number() OVER (PARTITION BY s.shard
                                              ORDER BY s.h, s.doc_id) AS pos
            FROM s JOIN off o ON s.shard = o.shard
        )
        SELECT CAST(pos AS BIGINT) AS shuffle_pos, doc_id
        FROM r WHERE pos <= {SHUFFLE_TOP} ORDER BY shuffle_pos
    """)


# --- 4. fixed-weight quality classifier ------------------------------------

# Linear model over cheap text features (fastText-style quality filter with
# frozen public weights); squash is the rational "fast sigmoid" so both
# engines produce bit-identical doubles (no libm exp).
QC_BIAS = -2.5
QC_W_TTR = 3.0  # type-token ratio (vocabulary diversity)
QC_W_STOP = 2.0  # stopword ratio (natural-language-ness)
QC_W_LEN = 1.0  # saturating length feature


def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight linear quality classifier (the cheap model-based filter
    stage of a data pipeline): features = type-token ratio, stopword
    ratio, saturating length; score = rational sigmoid of the linear
    combination; keep_label thresholds the raw logit at 0."""
    load_tables(spark, sf_dir)
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    sw = _sql_list(STOPWORDS)
    return spark.sql(f"""
        WITH t AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
        feat AS (
            SELECT doc_id,
                   size(array_distinct(w)) * 1e0 / size(w) AS ttr,
                   size(filter(w, x -> x IN ({sw}))) * 1e0 / size(w)
                       AS stop_ratio,
                   least(size(w) / 64e0, 2e0) AS len_norm
            FROM t
        ),
        z AS (
            SELECT doc_id,
                   {QC_BIAS}e0 + {QC_W_TTR}e0 * ttr
                       + {QC_W_STOP}e0 * stop_ratio
                       + {QC_W_LEN}e0 * len_norm AS logit
            FROM feat
        )
        SELECT doc_id,
               {R("logit", 6)} AS logit,
               {R("0.5e0 + 0.5e0 * logit / (1e0 + abs(logit))", 6)} AS p_keep,
               CASE WHEN logit >= 0e0 THEN 1 ELSE 0 END AS keep_label
        FROM z ORDER BY doc_id
    """)


# --- 5. keep-best representative inside near-dup clusters ------------------

def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup with quality-aware representative selection: connected
    components over the verified MinHash-LSH pair graph (pointer-jumping,
    O(log diameter)), then each cluster keeps its LONGEST member (token
    count, ties → min doc_id) instead of the arbitrary min-id doc — the
    "keep the best copy" policy real pipelines use."""
    pairs = materialize(
        minhash_near_dup_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .coalesce(1)  # verified pair graph is tiny locally; see dup_clusters
    )
    labels = connected_components(pairs)
    load_tables(spark, sf_dir)
    docs = spark.table("documents").select(
        F.col("doc_id").alias("node"),
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    )
    ranked = labels.join(docs, "node").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("label").orderBy(
                F.col("n_tok").desc(), F.col("node").asc()
            )
        ),
    )
    return (
        ranked.groupBy(F.col("label").alias("component"))
        .agg(
            F.count("*").alias("cluster_size"),
            F.min(F.when(F.col("rk") == 1, F.col("node"))).alias("keep_doc"),
            F.max(F.when(F.col("rk") == 1, F.col("n_tok")))
            .cast("int")
            .alias("keep_tokens"),
            (F.count("*") - 1).alias("n_dropped"),
        )
        .orderBy("component")
    )


# --- 6. Zipf-law fit over the term-frequency distribution ------------------

ZIPF_K = 50  # top-K terms entering the log-log regression


def _zipf_tail_sql(fold) -> str:
    """Shared regression tail over a `p(rank, x, y)` CTE: least-squares
    slope/intercept of y = ln(freq) on x = ln(rank). Every Σ runs as a
    RANK-ORDERED sequential fold (`fold(expr)`) — plain sum() lets each
    engine merge float partials in its own order, and the two engines'
    orders differ, so the rounded slope could flip; folding in rank order
    makes all four sums bit-identical across engines."""
    slope = "(k * sxy - sx * sy) / (k * sxx - sx * sx)"
    return f"""
        s AS (
            SELECT count(*) AS k,
                   {fold("x")} AS sx,
                   {fold("y")} AS sy,
                   {fold("x * y")} AS sxy,
                   {fold("x * x")} AS sxx
            FROM p
        )
        SELECT CAST(k AS INT) AS k_terms,
               {R(slope, 6)} AS slope,
               {R(f"(sy - ({slope}) * sx) / k", 6)} AS intercept
        FROM s
    """


def zipf_corpus_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus: rank the top-K terms by frequency and
    least-squares-fit ln(freq) = intercept + slope·ln(rank) — the standard
    sanity check that a text corpus has a natural-language-like frequency
    distribution (slope ≈ −1) rather than a degenerate one.

    Scale shape: term counting is one grouped agg; the top-K is
    TakeOrderedAndProject (per-partition heaps, merge K); ranking and the
    regression run on the bounded K-row result (declared single-partition
    via bounded_rank_window)."""
    from database_toolbox_spark.functions import bounded_rank_window  # noqa: PLC0415

    load_tables(spark, sf_dir)
    tf = spark.sql("""
        WITH toks AS (
            SELECT /*+ REPARTITION */ explode(split(text, ' ')) AS term
            FROM documents
        )
        SELECT term, count(*) AS freq FROM toks GROUP BY term
    """)
    top = tf.orderBy(F.col("freq").desc(), "term").limit(ZIPF_K)
    w = bounded_rank_window(F.col("term"), F.col("freq").desc(), "term")
    top.select(
        F.row_number().over(w).cast("int").alias("rank"), "freq"
    ).createOrReplaceTempView("zipf_ranked_v")

    def spark_fold(e: str) -> str:
        return (
            "aggregate(transform(array_sort(collect_list("
            f"named_struct('r', rank, 'v', {e}))), t -> t.v), "
            "CAST(0 AS DOUBLE), (a, q) -> a + q)"
        )

    return spark.sql(f"""
        WITH p AS (
            SELECT rank,
                   ln(CAST(rank AS DOUBLE)) AS x,
                   ln(CAST(freq AS DOUBLE)) AS y
            FROM zipf_ranked_v
        ),
        {_zipf_tail_sql(spark_fold)}
    """)


# --- 7. length-based curriculum staging ------------------------------------

CURRICULUM_STAGES = 4


def length_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning stage assignment: documents binned into exact
    length quartiles (shortest → stage 1), the short-to-long ordering
    curriculum pretraining schedules use. The oracle keeps the global
    ntile(4) spelling; the Spark plan is the two-pass exact rank (monotone
    char bins → per-bin counts → broadcast triangular offsets →
    PARTITIONed row_number → closed-form ntile — no unpartitioned
    window), the shape that survives billions of documents."""
    from database_toolbox_spark.operators.windows import _ntile_from_rn  # noqa: PLC0415

    load_tables(spark, sf_dir)
    return spark.sql(f"""
        WITH m AS (SELECT count(*) AS n FROM documents),
        b AS (SELECT doc_id, n_chars, n_chars div 16 AS bin FROM documents),
        t AS (SELECT bin, count(*) AS c FROM b GROUP BY bin),
        o AS (
            SELECT a.bin, CAST(coalesce(sum(x.c), 0) AS BIGINT) AS off
            FROM t a LEFT JOIN t x ON x.bin < a.bin GROUP BY a.bin
        ),
        r AS (
            SELECT b.doc_id, b.n_chars,
                   o.off + row_number() OVER (PARTITION BY b.bin
                       ORDER BY b.n_chars, b.doc_id) AS rn
            FROM b JOIN o ON b.bin = o.bin
        ),
        staged AS (
            SELECT n_chars,
                   {_ntile_from_rn("rn", "n", CURRICULUM_STAGES)} AS stage
            FROM r, m
        )
        SELECT stage,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars,
               {R("avg(n_chars * 1e0)", 4)} AS avg_chars
        FROM staged GROUP BY stage ORDER BY stage
    """)


# --- 8. Heaps'-law vocabulary-growth checkpoints ---------------------------

HEAPS_CHECKPOINTS = 8


def _heaps_sql(toks_cte: str, ntoks_expr: str) -> str:
    """Shared shape: V(prefix) = #{terms whose FIRST doc precedes the
    checkpoint} — one grouped agg over tokens replaces P full corpus
    scans; prefix token totals are a second tiny agg over documents. The
    checkpoint thresholds split the doc_id range evenly."""
    return f"""
        WITH {toks_cte},
        firsts AS (
            SELECT term, min(doc_id) AS first_doc FROM toks GROUP BY term
        ),
        bounds AS (SELECT max(doc_id) + 1 AS n_ids FROM documents),
        cps AS (
            SELECT c.c AS checkpoint,
                   CAST(ceil(b.n_ids * c.c / {HEAPS_CHECKPOINTS}e0) AS BIGINT)
                       AS id_cut
            FROM checkpoints_seq c, bounds b
        )
        SELECT p.checkpoint,
               CAST(p.id_cut AS BIGINT) AS id_cut,
               (SELECT count(*) FROM documents d WHERE d.doc_id < p.id_cut)
                   AS prefix_docs,
               CAST((SELECT coalesce(sum({ntoks_expr}), 0) FROM documents d
                     WHERE d.doc_id < p.id_cut) AS BIGINT) AS prefix_tokens,
               (SELECT count(*) FROM firsts f WHERE f.first_doc < p.id_cut)
                   AS vocab_size
        FROM cps p
        ORDER BY p.checkpoint
    """


def heaps_law_checkpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative vocabulary size at P
    evenly-spaced corpus prefixes — the V(n) ~ K·n^beta diagnostic that
    tells you whether a corpus keeps yielding new types (natural text,
    beta ≈ 0.4-0.6) or has saturated (synthetic/duplicated data).

    Scale shape (the oracle keeps the P-correlated-subquery spelling,
    which Catalyst decorrelates into SEVEN corpus scans — wrong at
    100 TB): each doc/term maps to its earliest containing checkpoint
    with pure integer arithmetic (bucket = doc_id·P div n_ids + 1 — exact,
    no float ceil, provably equal to the `doc_id < ceil(n_ids·c/P)` cut
    test), so the TEXT column is read exactly twice (per-doc token totals;
    the term-first-doc agg) — the only remaining extra scans are the
    inlined `bounds` max-id probes, doc_id-only and column-pruned. The
    cumulative curve is a triangular join over ≤P per-bucket rows."""
    load_tables(spark, sf_dir)
    p = HEAPS_CHECKPOINTS
    return spark.sql(f"""
        WITH bounds AS (SELECT max(doc_id) + 1 AS n_ids FROM documents),
        d AS (
            SELECT doc_id, size(split(text, ' ')) AS n_tok,
                   CAST(doc_id * {p} div n_ids AS INT) + 1 AS bucket
            FROM documents, bounds
        ),
        doc_b AS (
            SELECT bucket, count(*) AS nd, sum(n_tok) AS nt
            FROM d GROUP BY bucket
        ),
        toks AS (
            SELECT /*+ REPARTITION */ doc_id, explode(split(text, ' ')) AS term
            FROM documents
        ),
        firsts AS (
            SELECT term, min(doc_id) AS first_doc FROM toks GROUP BY term
        ),
        term_b AS (
            SELECT CAST(first_doc * {p} div n_ids AS INT) + 1 AS bucket,
                   count(*) AS nv
            FROM firsts, bounds GROUP BY 1
        ),
        cps AS (
            SELECT c.c AS checkpoint,
                   CAST(ceil(b.n_ids * c.c / {p}e0) AS BIGINT) AS id_cut
            FROM (SELECT explode(sequence(1, {p})) AS c) c, bounds b
        ),
        docs_cum AS (
            SELECT p.checkpoint, p.id_cut,
                   CAST(coalesce(sum(db.nd), 0) AS BIGINT) AS prefix_docs,
                   CAST(coalesce(sum(db.nt), 0) AS BIGINT) AS prefix_tokens
            FROM cps p LEFT JOIN doc_b db ON db.bucket <= p.checkpoint
            GROUP BY p.checkpoint, p.id_cut
        ),
        vocab_cum AS (
            SELECT p.checkpoint,
                   CAST(coalesce(sum(tb.nv), 0) AS BIGINT) AS vocab_size
            FROM cps p LEFT JOIN term_b tb ON tb.bucket <= p.checkpoint
            GROUP BY p.checkpoint
        )
        SELECT d.checkpoint, d.id_cut, d.prefix_docs, d.prefix_tokens,
               v.vocab_size
        FROM docs_cum d JOIN vocab_cum v ON d.checkpoint = v.checkpoint
        ORDER BY d.checkpoint
    """)


# --- registry ---------------------------------------------------------------

QUERIES = {
    "segment_dedup_kept": segment_dedup_kept,
    "hash_split_counts": hash_split_counts,
    "global_shuffle_order": global_shuffle_order,
    "quality_classifier_scores": quality_classifier_scores,
    "dedup_keep_best": dedup_keep_best,
    "zipf_corpus_fit": zipf_corpus_fit,
    "length_curriculum_stages": length_curriculum_stages,
    "heaps_law_checkpoints": heaps_law_checkpoints,
}


def _duck_oracles() -> dict[str, str]:
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    sw = _sql_list(STOPWORDS)
    return {
        "segment_dedup_kept": _segment_dedup_sql(_segments_duck()),
        "hash_split_counts": _split_sql(
            "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))"
            " AS INTEGER) % 100",
            "CAST(len(string_split(text, ' ')) AS INT)",
        ),
        "global_shuffle_order": f"""
            SELECT shuffle_pos, doc_id FROM (
                SELECT CAST(row_number() OVER (
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ) AS BIGINT) AS shuffle_pos,
                       doc_id
                FROM documents
            ) WHERE shuffle_pos <= {SHUFFLE_TOP}
            ORDER BY shuffle_pos
        """,
        "quality_classifier_scores": f"""
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
                       FROM documents),
            feat AS (
                SELECT doc_id,
                       len(list_distinct(w)) * 1e0 / len(w) AS ttr,
                       len(list_filter(w, x -> x IN ({sw}))) * 1e0 / len(w)
                           AS stop_ratio,
                       least(len(w) / 64e0, 2e0) AS len_norm
                FROM t
            ),
            z AS (
                SELECT doc_id,
                       {QC_BIAS}e0 + {QC_W_TTR}e0 * ttr
                           + {QC_W_STOP}e0 * stop_ratio
                           + {QC_W_LEN}e0 * len_norm AS logit
                FROM feat
            )
            SELECT doc_id,
                   {R("logit", 6)} AS logit,
                   {R("0.5e0 + 0.5e0 * logit / (1e0 + abs(logit))", 6)}
                       AS p_keep,
                   CASE WHEN logit >= 0e0 THEN 1 ELSE 0 END AS keep_label
            FROM z ORDER BY doc_id
        """,
        "heaps_law_checkpoints": _heaps_sql(
            f"""toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents
            ),
            checkpoints_seq AS (
                SELECT CAST(unnest(range(1, {HEAPS_CHECKPOINTS} + 1)) AS INT)
                    AS c
            )""",
            "CAST(len(string_split(d.text, ' ')) AS INT)",
        ),
        "zipf_corpus_fit": f"""
            WITH toks AS (
                SELECT unnest(string_split(text, ' ')) AS term FROM documents
            ),
            tf AS (SELECT term, count(*) AS freq FROM toks GROUP BY term),
            ranked AS (
                SELECT CAST(row_number() OVER (ORDER BY freq DESC, term)
                            AS INT) AS rank,
                       freq
                FROM tf
            ),
            p AS (
                SELECT rank,
                       ln(CAST(rank AS DOUBLE)) AS x,
                       ln(CAST(freq AS DOUBLE)) AS y
                FROM ranked WHERE rank <= {ZIPF_K}
            ),
            {_zipf_tail_sql(
                lambda e: f"list_aggregate(list({e} ORDER BY rank), 'sum')"
            )}
        """,
        "length_curriculum_stages": f"""
            WITH staged AS (
                SELECT n_chars,
                       CAST(ntile({CURRICULUM_STAGES})
                            OVER (ORDER BY n_chars, doc_id) AS INT) AS stage
                FROM documents
            )
            SELECT stage,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(n_chars) AS BIGINT) AS min_chars,
                   CAST(max(n_chars) AS BIGINT) AS max_chars,
                   {R("avg(n_chars * 1e0)", 4)} AS avg_chars
            FROM staged GROUP BY stage ORDER BY stage
        """,
        "dedup_keep_best": f"""
            WITH RECURSIVE pairs AS (
                {_band_pairs_sql(_DUCK_SHINGLES, lambda a, b: f"({a} || {b})")}
            ),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs
            ),
            members AS (
                SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs
            ),
            reach(node, member) AS (
                SELECT node, node FROM members
                UNION
                SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.member
            ),
            rep AS (
                SELECT node, min(member) AS component FROM reach GROUP BY node
            ),
            sized AS (
                SELECT rep.node, rep.component,
                       CAST(len(string_split(d.text, ' ')) AS INT) AS n_tok
                FROM rep JOIN documents d ON d.doc_id = rep.node
            ),
            ranked AS (
                SELECT node, component, n_tok,
                       row_number() OVER (PARTITION BY component
                           ORDER BY n_tok DESC, node) AS rk
                FROM sized
            )
            SELECT component,
                   count(*) AS cluster_size,
                   min(CASE WHEN rk = 1 THEN node END) AS keep_doc,
                   CAST(max(CASE WHEN rk = 1 THEN n_tok END) AS INT)
                       AS keep_tokens,
                   count(*) - 1 AS n_dropped
            FROM ranked GROUP BY component ORDER BY component
        """,
    }


ORACLE = _duck_oracles()


def _calibration_sql(q_expr: str, pctile, el) -> str:
    """Shared quantile-calibration pipeline: per-source quartile
    cutpoints (ONE ordered-set aggregate per source, broadcast back),
    then a comparison-sum bucket id — never a per-source rank window,
    which at 100 TB would be a global sort per source. Cutpoints
    interpolate from identical canon-derived scores in both engines, so
    the q-vs-cutpoint knife edge is consistent (the
    exact_percentile_battery guard)."""
    return f"""
        WITH m AS (
            SELECT doc_id, source, {q_expr} AS q FROM documents
        ),
        cuts AS (
            SELECT source, {pctile} AS cs FROM m GROUP BY source
        ),
        b AS (
            SELECT m.source,
                   1 + CAST(m.q > {el("cuts.cs", 1)} AS INT)
                     + CAST(m.q > {el("cuts.cs", 2)} AS INT)
                     + CAST(m.q > {el("cuts.cs", 3)} AS INT) AS bucket,
                   m.q
            FROM m JOIN cuts ON cuts.source = m.source
        )
        SELECT source, CAST(bucket AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               {R("avg(q)", 6)} AS mean_q
        FROM b GROUP BY source, bucket
        ORDER BY source, bucket
    """


# the doc_quality_scores blend, spelled per dialect (text.py defines the
# canonical formula; calibration reuses it verbatim so the calibrated
# metric IS the quality score the rest of the curation tier filters on)
_SPARK_Q = ("0.4e0 * (1e0 - size(filter(split(text, ' '), "
            "t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) * 1e0 "
            "/ size(split(text, ' '))) "
            "+ 0.3e0 * (size(array_distinct(split(text, ' '))) * 1e0 "
            "/ size(split(text, ' '))) "
            "+ 0.3e0 * least(size(split(text, ' ')) / 100e0, 1e0)")
_DUCK_Q = ("0.4e0 * (1e0 - len(list_filter(string_split(text, ' '), "
           "t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) * 1e0 "
           "/ len(string_split(text, ' '))) "
           "+ 0.3e0 * (len(list_distinct(string_split(text, ' '))) * 1e0 "
           "/ len(string_split(text, ' '))) "
           "+ 0.3e0 * least(len(string_split(text, ' ')) / 100e0, 1e0)")


def source_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile calibration of the quality score: bucket every
    document into its WITHIN-SOURCE quality quartile and report bucket
    sizes and mean quality. Raw quality thresholds are incomparable
    across sources (a web crawl's P75 can sit below a books corpus's
    P25); filtering on within-source quantiles — exactly what this
    report parameterizes — keeps a fixed per-source keep-rate instead
    of silently dropping whole sources.

    Scale shape: one ordered-set aggregate per source for the three
    cutpoints (source-count rows, broadcast back), one comparison-sum
    projection, one grouped count — NO per-source rank window (that
    would be a global sort per source at corpus scale)."""
    load_tables(spark, sf_dir)
    return spark.sql(_calibration_sql(
        _SPARK_Q,
        "percentile(q, array(0.25e0, 0.5e0, 0.75e0))",
        lambda arr, i: f"element_at({arr}, {i})",
    ))


QUERIES["source_quality_calibration"] = source_quality_calibration
ORACLE["source_quality_calibration"] = _calibration_sql(
    _DUCK_Q,
    "quantile_cont(q, [0.25e0, 0.5e0, 0.75e0])",
    lambda arr, i: f"{arr}[{i}]",
)


def _datasheet_sql(toks: str, q_expr: str, entropy: str) -> str:
    """Shared per-source datasheet rollup: all document-grain metrics in
    one pass (map-side combinable), the token grain only for totals and
    hapax share, the lang-mix entropy on the (source x lang) domain."""
    return f"""
        WITH docgrain AS (
            SELECT source,
                   count(*) AS n_docs,
                   CAST(count(DISTINCT md5(text)) AS BIGINT)
                       AS n_distinct_texts,
                   sum({q_expr}) AS q_sum,
                   sum(length(text)) AS n_chars
            FROM documents GROUP BY source
        ),
        tok AS ({toks}),
        tokgrain AS (
            SELECT source, term, count(*) AS n FROM tok
            GROUP BY source, term
        ),
        toksum AS (
            SELECT source,
                   CAST(sum(n) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_terms,
                   CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_hapax
            FROM tokgrain GROUP BY source
        ),
        langmix AS (
            SELECT source, lang, count(*) AS n
            FROM documents GROUP BY source, lang
        ),
        langent AS (
            SELECT source, {entropy} AS lang_entropy
            FROM (SELECT source, n,
                         sum(n) OVER (PARTITION BY source) AS tot
                  FROM langmix) t
            GROUP BY source
        )
        SELECT d.source,
               CAST(d.n_docs AS BIGINT) AS n_docs,
               {R("(d.n_docs - d.n_distinct_texts) * 1e0 / d.n_docs", 6)}
                   AS exact_dup_rate,
               t.n_tokens,
               CAST(d.n_chars AS BIGINT) AS n_chars,
               {R("d.q_sum / d.n_docs", 6)} AS mean_quality,
               {R("t.n_hapax * 1e0 / t.n_terms", 6)} AS hapax_share,
               {R("le.lang_entropy", 6)} AS lang_entropy
        FROM docgrain d
        JOIN toksum t ON t.source = d.source
        JOIN langent le ON le.source = d.source
        ORDER BY d.source
    """


def source_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row-per-source dataset DATASHEET (Gebru et al.'s datasheets
    idea, reduced to the computable core): volume (docs/tokens/chars),
    exact-dup rate, mean quality score, hapax share (vocabulary
    freshness — high hapax = OCR noise or genuinely diverse text), and
    language-mix entropy. The single report a curation review reads
    before deciding per-source treatment; every column is also
    available as a dedicated operator for drill-down.

    Scale shape: one doc-grain grouped pass, one token-grain grouped
    pass (map-side combinable), one (source x lang)-domain entropy —
    the per-source window runs over that bounded domain, never rows."""
    load_tables(spark, sf_dir)
    return spark.sql(_datasheet_sql(
        toks="SELECT /*+ REPARTITION */ source, "
             "explode(split(text, ' ')) AS term FROM documents",
        q_expr=_SPARK_Q,
        entropy="-sum((n * 1e0 / tot) * ln(n * 1e0 / tot))",
    ))


QUERIES["source_datasheet"] = source_datasheet
ORACLE["source_datasheet"] = _datasheet_sql(
    toks="SELECT source, unnest(string_split(text, ' ')) AS term "
         "FROM documents",
    q_expr=_DUCK_Q,
    entropy="-sum((n * 1e0 / tot) * ln(n * 1e0 / tot))",
)


# --- 11. Gopher rule-filter battery ----------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MEAN_LEN_LO = 3.0
GOPHER_MEAN_LEN_HI = 10.0
GOPHER_SYMBOL_MAX = 0.1  # '#' / '...' words per word
GOPHER_ALPHA_MIN = 0.8  # fraction of words containing a letter
GOPHER_MIN_STOP_HITS = 2  # distinct stopword types required


def _gopher_sql(split, ln, filt, alpha, isect, sw) -> str:
    """Per-source failure counts for the Gopher quality rules (Rae et al.,
    "Scaling Language Models: ... Gopher", arXiv:2112.11446, Appendix A):
    word-count bounds, mean-word-length bounds, symbol-word ratio,
    alphabetic-word fraction, and minimum distinct stopword hits. Mean
    word length is computed arithmetically as non-separator chars per
    word — (length(text) - n_words + 1) / n_words — the same parse tree
    in both engines, no lambda fold."""
    return f"""
        WITH t AS (
            SELECT source, length(text) AS n_chars, {split} AS w
            FROM documents
        ),
        m AS (
            SELECT source,
                   {ln}(w) AS n_words,
                   (n_chars - {ln}(w) + 1) * 1e0 / {ln}(w) AS mean_len,
                   {ln}({filt}(w, t -> t LIKE '%#%' OR t LIKE '%...'))
                       * 1e0 / {ln}(w) AS sym_ratio,
                   {ln}({filt}(w, t -> {alpha})) * 1e0 / {ln}(w)
                       AS alpha_ratio,
                   {ln}({isect}(w, {sw})) AS stop_hits
            FROM t
        ),
        f AS (
            SELECT source,
                   CASE WHEN n_words < {GOPHER_MIN_WORDS}
                          OR n_words > {GOPHER_MAX_WORDS}
                        THEN 1 ELSE 0 END AS f_words,
                   CASE WHEN mean_len < {GOPHER_MEAN_LEN_LO}e0
                          OR mean_len > {GOPHER_MEAN_LEN_HI}e0
                        THEN 1 ELSE 0 END AS f_meanlen,
                   CASE WHEN sym_ratio > {GOPHER_SYMBOL_MAX}e0
                        THEN 1 ELSE 0 END AS f_symbol,
                   CASE WHEN alpha_ratio < {GOPHER_ALPHA_MIN}e0
                        THEN 1 ELSE 0 END AS f_alpha,
                   CASE WHEN stop_hits < {GOPHER_MIN_STOP_HITS}
                        THEN 1 ELSE 0 END AS f_stop
            FROM m
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(f_words) AS BIGINT)   AS fail_word_count,
               CAST(sum(f_meanlen) AS BIGINT) AS fail_mean_len,
               CAST(sum(f_symbol) AS BIGINT)  AS fail_symbol_ratio,
               CAST(sum(f_alpha) AS BIGINT)   AS fail_alpha_words,
               CAST(sum(f_stop) AS BIGINT)    AS fail_stopwords,
               CAST(sum(CASE WHEN f_words + f_meanlen + f_symbol
                                  + f_alpha + f_stop = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
               {R("sum(CASE WHEN f_words + f_meanlen + f_symbol"
                  " + f_alpha + f_stop = 0 THEN 1e0 ELSE 0e0 END)"
                  " / count(*)", 4)} AS pass_rate
        FROM f GROUP BY source ORDER BY source
    """


def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-filter battery aggregated per source: how many docs each
    of the five cheap quality rules would drop, and the per-source pass
    rate. Complements quality_classifier_scores (a learned-weight score)
    with the rule-based stage real pipelines run FIRST.

    Scale shape: one projection with per-row array ops + one grouped agg —
    embarrassingly parallel, map-side combinable, no shuffle beyond the
    20-group aggregate."""
    load_tables(spark, sf_dir)
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    return spark.sql(_gopher_sql(
        "split(text, ' ')", "size", "filter",
        "t RLIKE '[a-z]'", "array_intersect",
        f"array({_sql_list(STOPWORDS)})",
    ))


QUERIES["gopher_quality_flags"] = gopher_quality_flags


def _gopher_oracle() -> str:
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    return _gopher_sql(
        "string_split(text, ' ')", "len", "list_filter",
        "regexp_matches(t, '[a-z]')", "list_intersect",
        f"[{_sql_list(STOPWORDS)}]",
    )


ORACLE["gopher_quality_flags"] = _gopher_oracle()


# --- 12. quality-signal correlation matrix ---------------------------------

_CORR_SIGNALS = ("n_words", "ttr", "stop_ratio", "mean_len")


def _corr_feat_sql(split, ln, uniq_expr, filt, sw) -> str:
    return f"""
        SELECT CAST({ln}(w) AS DOUBLE) AS n_words,
               {uniq_expr} * 1e0 / {ln}(w) AS ttr,
               {ln}({filt}(w, x -> x IN ({sw}))) * 1e0 / {ln}(w)
                   AS stop_ratio,
               (n_chars - {ln}(w) + 1) * 1e0 / {ln}(w) AS mean_len
        FROM (SELECT length(text) AS n_chars, {split} AS w FROM documents)
    """


def _corr_pairs():
    sigs = _CORR_SIGNALS
    return [
        (sigs[i], sigs[j])
        for i in range(len(sigs))
        for j in range(i + 1, len(sigs))
    ]


def _corr_agg_cols() -> str:
    return ", ".join(
        f"{R(f'corr({a}, {b})', 4)} AS c_{a}__{b}" for a, b in _corr_pairs()
    )


def _corr_unpivot_sql(src: str) -> str:
    parts = [
        f"SELECT '{a}' AS sig_a, '{b}' AS sig_b, c_{a}__{b} AS pearson_r"
        f" FROM {src}"
        for a, b in _corr_pairs()
    ]
    return " UNION ALL ".join(parts) + " ORDER BY sig_a, sig_b"


def quality_signal_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix (long form, upper triangle) across the
    cheap per-doc quality signals — the collinearity check run before
    fitting/weighting a quality classifier: a pair at |r| ~ 1 carries no
    independent signal and a learned filter double-counts it.

    Scale shape: ONE corpus pass computes all six corr() states
    (map-side combinable); the 1-row aggregate is materialized before the
    6-way UNION unpivot so Catalyst's CTE inlining cannot re-run the
    corpus scan per output row (the documented multiply-referenced-CTE
    trap)."""
    load_tables(spark, sf_dir)
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    feat = _corr_feat_sql(
        "split(text, ' ')", "size", "size(array_distinct(w))", "filter",
        _sql_list(STOPWORDS),
    )
    materialize(spark.sql(
        f"SELECT {_corr_agg_cols()} FROM ({feat})"
    )).createOrReplaceTempView("qsc_agg_v")
    return spark.sql(_corr_unpivot_sql("qsc_agg_v"))


QUERIES["quality_signal_correlations"] = quality_signal_correlations


def _corr_oracle() -> str:
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    feat = _corr_feat_sql(
        "string_split(text, ' ')", "len", "len(list_distinct(w))",
        "list_filter", _sql_list(STOPWORDS),
    )
    return (
        f"WITH agg AS MATERIALIZED (SELECT {_corr_agg_cols()} FROM ({feat}))"
        + _corr_unpivot_sql("agg")
    )


ORACLE["quality_signal_correlations"] = _corr_oracle()


# --- 14. classifier calibration (reliability bins + Brier) -------------------


def _calib_binned_ctes(split, ln, uniq, filt, alpha, isect, sw_in,
                       sw_arr) -> str:
    """The shared classifier-vs-rule-battery relation: per doc the
    classifier probability p, the rule label y, and its p-decile bin —
    the CTE prefix both classifier_calibration_bins and
    isotonic_calibration_curve build on."""
    logit = (f"{QC_BIAS}e0 + {QC_W_TTR}e0 * ttr + {QC_W_STOP}e0"
             f" * stop_ratio + {QC_W_LEN}e0 * len_norm")
    return f"""
        WITH t AS (
            SELECT doc_id, length(text) AS n_chars, {split} AS w
            FROM documents
        ),
        feat AS (
            SELECT doc_id,
                   {ln}(w) AS n_words,
                   {uniq} * 1e0 / {ln}(w) AS ttr,
                   {ln}({filt}(w, x -> x IN ({sw_in}))) * 1e0 / {ln}(w)
                       AS stop_ratio,
                   least({ln}(w) / 64e0, 2e0) AS len_norm,
                   (n_chars - {ln}(w) + 1) * 1e0 / {ln}(w) AS mean_len,
                   {ln}({filt}(w, t -> t LIKE '%#%' OR t LIKE '%...'))
                       * 1e0 / {ln}(w) AS sym_ratio,
                   {ln}({filt}(w, t -> {alpha})) * 1e0 / {ln}(w)
                       AS alpha_ratio,
                   {ln}({isect}(w, {sw_arr})) AS stop_hits
            FROM t
        ),
        scored AS (
            SELECT doc_id,
                   0.5e0 + 0.5e0 * ({logit}) / (1e0 + abs({logit})) AS p,
                   CASE WHEN n_words >= {GOPHER_MIN_WORDS}
                             AND n_words <= {GOPHER_MAX_WORDS}
                             AND mean_len >= {GOPHER_MEAN_LEN_LO}e0
                             AND mean_len <= {GOPHER_MEAN_LEN_HI}e0
                             AND sym_ratio <= {GOPHER_SYMBOL_MAX}e0
                             AND alpha_ratio >= {GOPHER_ALPHA_MIN}e0
                             AND stop_hits >= {GOPHER_MIN_STOP_HITS}
                        THEN 1 ELSE 0 END AS y
            FROM feat
        ),
        binned AS (
            SELECT least(CAST(floor(p * 10e0) AS INT), 9) AS bin, p, y
            FROM scored
        )
    """


def _calib_bins_sql(*args) -> str:
    """Reliability-diagram bins for the fixed-weight quality classifier
    against the INDEPENDENT Gopher rule battery as reference label
    (y = 1 iff all five rules pass): per p_keep decile, mean predicted
    probability vs empirical rule-pass rate (the calibration gap — DeGroot
    & Fienberg 1983), plus each bin's Brier contribution (Brier 1950;
    total Brier = sum of brier_sum / sum of n_docs)."""
    return _calib_binned_ctes(*args) + f"""
        SELECT CAST(bin AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n_docs,
               {R("avg(p)", 6)} AS mean_predicted,
               {R("avg(y * 1e0)", 6)} AS frac_rule_pass,
               {R("abs(avg(p) - avg(y * 1e0))", 6)} AS calibration_gap,
               {R("sum((p - y) * (p - y))", 6)} AS brier_sum
        FROM binned GROUP BY bin ORDER BY bin
    """


def classifier_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the cheap linear quality classifier CALIBRATED against the rule
    battery it is meant to approximate? Reliability bins + per-bin Brier
    contributions (see _calib_bins_sql) — the QA gate you run before
    trusting p_keep as a sampling weight (importance_sampled_counts) or a
    curriculum key rather than a mere ranking.

    Scale shape: one projection computing both the classifier features
    and the rule flags in the SAME per-row pass (no second corpus scan,
    no join — the doc never leaves its partition), then a 10-group
    map-combinable rollup."""
    load_tables(spark, sf_dir)
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    sw = _sql_list(STOPWORDS)
    return spark.sql(_calib_bins_sql(
        "split(text, ' ')", "size", "size(array_distinct(w))", "filter",
        "t RLIKE '[a-z]'", "array_intersect", sw, f"array({sw})",
    ))


QUERIES["classifier_calibration_bins"] = classifier_calibration_bins


def _calib_bins_oracle() -> str:
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    sw = _sql_list(STOPWORDS)
    return _calib_bins_sql(
        "string_split(text, ' ')", "len", "len(list_distinct(w))",
        "list_filter", "regexp_matches(t, '[a-z]')", "list_intersect",
        sw, f"[{sw}]",
    )


ORACLE["classifier_calibration_bins"] = _calib_bins_oracle()


# --- 14b. isotonic calibration curve (exact PAVA via minimax) -----------------
#
# Monotone recalibration of the quality classifier against the rule
# battery: weighted isotonic regression of the per-decile empirical pass
# rate (Ayer et al., Ann. Math. Stat. 1955 — the pool-adjacent-violators
# fit), computed by the EXACT minimax identity
#     iso[i] = max_{j<=i} min_{k>=i} Av(j..k),
#     Av(j..k) = sum_{l=j..k} w_l y_l / sum_{l=j..k} w_l
# which needs no sequential pooling loop: with B = 10 decile bins the
# whole fit is a bounded triple fold over prefix-sum arrays (<= B^3
# evaluations on a ONE-ROW relation) — the same bounded-fold pattern as
# mmr_diverse_topk, exactly replayable in both engines. This is the
# post-hoc calibrator you apply before using p_keep as a sampling weight;
# classifier_calibration_bins DIAGNOSES miscalibration, this op FIXES it.


def _iso_tail_sql(ordl, tf, amin, amax, prep0, agg_prefix, el, seq,
                  explode) -> str:
    """Isotonic tail over the shared `binned` relation. Dialect hooks:
    ordl(v) = bin-ordered list collect; agg_prefix(arr) = prefix-sum
    array; el(arr, i) = 1-based indexing; seq(a, b) = inclusive integer
    sequence; explode = the 1..n positions lateral."""
    avjk = (f"({el('cy', 'k + 1')} - {el('cy', 'j')})"
            f" / ({el('cw', 'k + 1')} - {el('cw', 'j')})")
    return f"""
        bins AS (
            SELECT bin, count(*) * 1e0 AS wn, avg(y * 1e0) AS o,
                   avg(p) AS mp, count(*) * avg(y * 1e0) AS wy
            FROM binned GROUP BY bin
        ),
        arrs AS (
            SELECT {ordl('bin')} AS bs, {ordl('wn')} AS ws,
                   {ordl('o')} AS os, {ordl('mp')} AS mps,
                   {ordl('wy')} AS wys,
                   CAST(count(*) AS INT) AS n
            FROM bins
        ),
        pre AS (
            SELECT bs, ws, os, mps, n,
                   {prep0(agg_prefix('ws'))} AS cw,
                   {prep0(agg_prefix('wys'))} AS cy
            FROM arrs
        ),
        fit AS (
            SELECT bs, ws, os, mps, n,
                   {tf}({seq('1', 'n')}, i ->
                       {amax}({tf}({seq('1', 'i')}, j ->
                           {amin}({tf}({seq('i', 'n')}, k ->
                               {avjk}))))) AS iso
            FROM pre
        )
        SELECT CAST({el('bs', 'r')} AS BIGINT) AS bin,
               CAST({el('ws', 'r')} AS BIGINT) AS n_docs,
               {R(el('mps', 'r'), 6)} AS mean_predicted,
               {R(el('os', 'r'), 6)} AS raw_rate,
               {R(el('iso', 'r'), 6)} AS iso_rate
        FROM fit {explode}
        ORDER BY bin
    """


def isotonic_calibration_curve(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Weighted isotonic recalibration of the quality classifier's decile
    reliability curve (see the section comment: exact PAVA via the
    minimax identity, a bounded fold — no sequential pooling loop).

    Scale shape: the corpus pass is the SAME single projection + 10-group
    rollup as classifier_calibration_bins; the isotonic fit then runs on
    a one-row array relation (<= B^3 = 1000 interpreted evaluations) —
    model-fit cost is constant at any corpus size."""
    load_tables(spark, sf_dir)
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    sw = _sql_list(STOPWORDS)
    head = _calib_binned_ctes(
        "split(text, ' ')", "size", "size(array_distinct(w))", "filter",
        "t RLIKE '[a-z]'", "array_intersect", sw, f"array({sw})",
    )
    tail = _iso_tail_sql(
        ordl=lambda v: ("transform(array_sort(collect_list("
                        f"struct(bin AS k, {v} AS vv))), s -> s.vv)"),
        tf="transform",
        amin="array_min",
        amax="array_max",
        prep0=lambda x: f"concat(array(CAST(0 AS DOUBLE)), {x})",
        agg_prefix=lambda a: (
            f"transform(sequence(1, n), m -> aggregate(slice({a}, 1, m),"
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x))"
        ),
        el=lambda a, i: f"element_at({a}, {i})",
        seq=lambda a, b: f"sequence({a}, {b})",
        explode="LATERAL VIEW explode(sequence(1, n)) t AS r",
    )
    return spark.sql(head + "," + tail)


QUERIES["isotonic_calibration_curve"] = isotonic_calibration_curve


def _iso_oracle() -> str:
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    sw = _sql_list(STOPWORDS)
    head = _calib_binned_ctes(
        "string_split(text, ' ')", "len", "len(list_distinct(w))",
        "list_filter", "regexp_matches(t, '[a-z]')", "list_intersect",
        sw, f"[{sw}]",
    )
    tail = _iso_tail_sql(
        ordl=lambda v: f"list({v} ORDER BY bin)",
        tf="list_transform",
        amin="list_min",
        amax="list_max",
        prep0=lambda x: f"list_prepend(CAST(0 AS DOUBLE), {x})",
        agg_prefix=lambda a: (
            f"list_transform(range(1, n + 1),"
            f" m -> list_aggregate({a}[1:m], 'sum'))"
        ),
        el=lambda a, i: f"{a}[{i}]",
        seq=lambda a, b: f"range({a}, {b} + 1)",
        explode=("CROSS JOIN LATERAL"
                 " (SELECT unnest(range(1, fit.n + 1))) u(r)"),
    )
    return head + "," + tail


ORACLE["isotonic_calibration_curve"] = _iso_oracle()


# --- 15. filter agreement (Cohen's kappa) ------------------------------------


def _kappa_sql(split, ln, uniq, filt, alpha, isect, sw_in, sw_arr) -> str:
    """Inter-filter agreement between the rule battery (Gopher pass) and
    the learned classifier (logit >= 0 keep): confusion counts, raw
    agreement, and Cohen's kappa (Cohen, Educ. Psychol. Meas. 1960) —
    chance-corrected, so two filters that both keep ~everything can't
    fake agreement. The decision-level companion to
    classifier_calibration_bins (which grades probabilities)."""
    logit = (f"{QC_BIAS}e0 + {QC_W_TTR}e0 * ttr + {QC_W_STOP}e0"
             f" * stop_ratio + {QC_W_LEN}e0 * len_norm")
    return f"""
        WITH t AS (
            SELECT doc_id, length(text) AS n_chars, {split} AS w
            FROM documents
        ),
        feat AS (
            SELECT doc_id,
                   {ln}(w) AS n_words,
                   {uniq} * 1e0 / {ln}(w) AS ttr,
                   {ln}({filt}(w, x -> x IN ({sw_in}))) * 1e0 / {ln}(w)
                       AS stop_ratio,
                   least({ln}(w) / 64e0, 2e0) AS len_norm,
                   (n_chars - {ln}(w) + 1) * 1e0 / {ln}(w) AS mean_len,
                   {ln}({filt}(w, t -> t LIKE '%#%' OR t LIKE '%...'))
                       * 1e0 / {ln}(w) AS sym_ratio,
                   {ln}({filt}(w, t -> {alpha})) * 1e0 / {ln}(w)
                       AS alpha_ratio,
                   {ln}({isect}(w, {sw_arr})) AS stop_hits
            FROM t
        ),
        lab AS (
            SELECT CASE WHEN {logit} >= 0e0 THEN 1 ELSE 0 END AS clf,
                   CASE WHEN n_words >= {GOPHER_MIN_WORDS}
                             AND n_words <= {GOPHER_MAX_WORDS}
                             AND mean_len >= {GOPHER_MEAN_LEN_LO}e0
                             AND mean_len <= {GOPHER_MEAN_LEN_HI}e0
                             AND sym_ratio <= {GOPHER_SYMBOL_MAX}e0
                             AND alpha_ratio >= {GOPHER_ALPHA_MIN}e0
                             AND stop_hits >= {GOPHER_MIN_STOP_HITS}
                        THEN 1 ELSE 0 END AS rules
            FROM feat
        ),
        c AS (
            SELECT count(*) AS n,
                   sum(clf * rules) AS kk,
                   sum(clf * (1 - rules)) AS kd,
                   sum((1 - clf) * rules) AS dk,
                   sum((1 - clf) * (1 - rules)) AS dd
            FROM lab
        )
        SELECT CAST(n AS BIGINT) AS n_docs,
               CAST(kk AS BIGINT) AS both_keep,
               CAST(dd AS BIGINT) AS both_drop,
               CAST(kd AS BIGINT) AS clf_only_keep,
               CAST(dk AS BIGINT) AS rules_only_keep,
               {R("(kk + dd) * 1e2 / n", 4)} AS agreement_pct,
               {R("((kk + dd) * 1e0 / n"
                  " - ((kk + kd) * (kk + dk) + (dk + dd) * (kd + dd))"
                  "   * 1e0 / (n * n))"
                  " / (1e0"
                  " - ((kk + kd) * (kk + dk) + (dk + dd) * (kd + dd))"
                  "   * 1e0 / (n * n))", 4)} AS cohens_kappa
        FROM c
    """


def filter_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the Gopher rule filter and the learned
    quality classifier (see _kappa_sql).

    Scale shape: one per-row feature pass (both decisions computed
    without a join or second scan), one 1-row confusion rollup."""
    load_tables(spark, sf_dir)
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    sw = _sql_list(STOPWORDS)
    return spark.sql(_kappa_sql(
        "split(text, ' ')", "size", "size(array_distinct(w))", "filter",
        "t RLIKE '[a-z]'", "array_intersect", sw, f"array({sw})",
    ))


QUERIES["filter_agreement_kappa"] = filter_agreement_kappa


def _kappa_oracle() -> str:
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    sw = _sql_list(STOPWORDS)
    return _kappa_sql(
        "string_split(text, ' ')", "len", "len(list_distinct(w))",
        "list_filter", "regexp_matches(t, '[a-z]')", "list_intersect",
        sw, f"[{sw}]",
    )


ORACLE["filter_agreement_kappa"] = _kappa_oracle()


# --- active-learning batch selection ---------------------------------------------
# Uncertainty sampling with a per-source diversity cap (Lewis & Gale,
# SIGIR'94 uncertainty sampling; Settles' AL survey §3 for the
# batch-diversity correction): the next labeling batch is the {AL_BATCH}
# docs the quality classifier is LEAST sure about, but no source may
# contribute more than {AL_PER_SOURCE} — pure uncertainty floods the
# batch with one ambiguous slice and the labels stop generalizing.
AL_BATCH = 40
AL_PER_SOURCE = 4


def _al_batch_sql(split, length, distinct, filt, sw: str,
                  top_part: str) -> str:
    """Classifier logits -> micro-grid uncertainty rank within source ->
    per-source cap -> global top-{AL_BATCH}. The uncertainty of the
    rational sigmoid p = 0.5 + 0.5*l/(1+|l|) is 0.5 - 0.5*|l|/(1+|l|) —
    monotone in |logit|, so the integer grid ranks on |logit|."""
    return f"""
        WITH t AS (SELECT doc_id, source, {split} AS w FROM documents),
        feat AS (
            SELECT doc_id, source,
                   {length}({distinct}(w)) * 1e0 / {length}(w) AS ttr,
                   {length}({filt}(w, x -> x IN ({sw}))) * 1e0
                       / {length}(w) AS stop_ratio,
                   least({length}(w) / 64e0, 2e0) AS len_norm
            FROM t
        ),
        z AS (
            SELECT doc_id, source,
                   {QC_BIAS}e0 + {QC_W_TTR}e0 * ttr
                       + {QC_W_STOP}e0 * stop_ratio
                       + {QC_W_LEN}e0 * len_norm AS logit
            FROM feat
        ),
        u AS (
            SELECT doc_id, source, logit,
                   CAST(floor(abs(logit) * 1000000e0) AS BIGINT) AS u6
            FROM z
        ),
        capped AS (
            SELECT * FROM (
                SELECT doc_id, source, logit, u6,
                       row_number() OVER (PARTITION BY source
                           ORDER BY u6, doc_id) AS rn
                FROM u
            ) r WHERE rn <= {AL_PER_SOURCE}
        ),
        sel AS (
            SELECT doc_id, source, logit, u6,
                   row_number() OVER ({top_part}ORDER BY u6, doc_id)
                       AS pick
            FROM capped
        )
        SELECT CAST(pick AS BIGINT) AS pick_rank, doc_id, source,
               {R("logit", 6)} AS logit,
               {R("0.5e0 - 0.5e0 * abs(logit) / (1e0 + abs(logit))", 6)}
                   AS uncertainty
        FROM sel WHERE pick <= {AL_BATCH}
        ORDER BY pick_rank
    """


def active_learning_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The next {AL_BATCH}-doc labeling batch: least-confident docs under
    the pipeline's quality classifier, at most {AL_PER_SOURCE} per source
    (see _al_batch_sql) — the selection loop that spends labeling budget
    where the filter is blind without collapsing onto one source.

    Scale shape: one corpus scan computes the logits; the per-source rank
    is the grouped-top-k window sessionize already pays; the global pick
    runs on the capped relation (<= sources x {AL_PER_SOURCE} rows, a
    driver-bounded relation at any corpus size — the single-partition
    window is intentional and the cap is the explicit bound)."""
    load_tables(spark, sf_dir)
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    return spark.sql(_al_batch_sql(
        "split(text, ' ')", "size", "array_distinct", "filter",
        _sql_list(STOPWORDS),
        # hash a COLUMN so constant folding can't strip the partition
        "PARTITION BY (hash(doc_id) % 1) ",
    ))


def _al_oracle() -> str:
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    return _al_batch_sql(
        "string_split(text, ' ')", "len", "list_distinct", "list_filter",
        _sql_list(STOPWORDS), ""
    )


QUERIES["active_learning_batch"] = active_learning_batch
ORACLE["active_learning_batch"] = _al_oracle()


# --- in-batch negative contamination audit ----------------------------------------
# Contrastive pretraining treats every other in-batch example as a
# negative; a near-duplicate or same-source sibling in the batch is a
# FALSE negative that actively corrupts the gradient (Chen et al. SimCLR
# ICML'20 assume i.i.d. negatives; dedup-before-batching is the standard
# mitigation). This audit prices that contamination for a deterministic
# hash-batching of the corpus: within-batch pair mass, the same-source
# share of it, and the exact-duplicate pairs that land in one batch.
IBN_BATCH_SIZE = 32


def _ibn_sql(u32_doc: str) -> str:
    return f"""
        WITH nrel AS (SELECT count(*) AS n FROM documents),
        b AS (
            SELECT d.doc_id, d.source, md5(d.text) AS sig,
                   {u32_doc} % CAST(floor((nrel.n + {IBN_BATCH_SIZE} - 1)
                       * 1e0 / {IBN_BATCH_SIZE}) AS BIGINT) AS batch
            FROM documents d CROSS JOIN nrel
        ),
        sizes AS (SELECT batch, count(*) AS c FROM b GROUP BY batch),
        ss AS (
            SELECT batch, source, count(*) AS c
            FROM b GROUP BY batch, source
        ),
        dup AS (
            SELECT count(*) AS dup_pairs
            FROM b a JOIN b c ON a.sig = c.sig AND a.batch = c.batch
                             AND a.doc_id < c.doc_id
        ),
        agg AS (
            SELECT (SELECT sum(c) FROM sizes) AS n_docs,
                   (SELECT count(*) FROM sizes) AS n_batches,
                   (SELECT sum(c * (c - 1) / 2) FROM sizes) AS within_pairs,
                   (SELECT sum(c * (c - 1) / 2) FROM ss) AS same_source_pairs,
                   (SELECT dup_pairs FROM dup) AS dup_pairs
        )
        SELECT CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_batches AS BIGINT) AS n_batches,
               {R("n_docs * 1e0 / n_batches", 4)} AS mean_batch_size,
               CAST(within_pairs AS BIGINT) AS within_pairs,
               CAST(same_source_pairs AS BIGINT) AS same_source_pairs,
               {R("same_source_pairs * 1e0 / within_pairs", 6)}
                   AS same_source_share,
               CAST(dup_pairs AS BIGINT) AS dup_pairs
        FROM agg
    """


def inbatch_negative_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination census of contrastive training batches under the
    deterministic md5 hash-batching (batch size ~{IBN_BATCH_SIZE}): how
    much of the in-batch negative mass is same-source, and how many
    exact duplicates share a batch (see _ibn_sql). Run it before turning
    on in-batch negatives; if dup_pairs > 0 the fix is dedup-then-batch,
    if same_source_share is high the fix is source-stratified batching.

    Scale shape: batch assignment is a pure projection (md5 mod); all
    pair masses come CLOSED-FORM from grouped counts (sum of C(c,2) —
    never a pair join); the one real join is duplicate-signature x batch
    equality, bounded by the duplicate-group sizes exact_dup_summary
    already bounds."""
    load_tables(spark, sf_dir)
    return spark.sql(_ibn_sql(
        "CAST(conv(substring(md5(CAST(d.doc_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT)"
    ))


QUERIES["inbatch_negative_audit"] = inbatch_negative_audit
ORACLE["inbatch_negative_audit"] = _ibn_sql(
    "CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))"
    " AS BIGINT)"
)


# --- class-balance reweighting ------------------------------------------------
# Effective number of samples (Cui et al., "Class-Balanced Loss Based on
# Effective Number of Samples", CVPR 2019): with per-class count n, the
# effective sample count is (1 - beta^n)/(1 - beta) — marginal examples
# saturate as a class grows — and the class weight is its reciprocal.
# The training-time fix for label imbalance the curation tier measures.
CB_BETA = 0.999


def _class_balance_sql() -> str:
    """Per-label raw and normalized class-balanced weights next to the
    plain inverse-frequency weight. Normalization makes the weighted
    sample mass equal the corpus (sum w*n = N), so swapping weights in
    does not rescale the loss. Identical text in both dialects."""
    return f"""
        WITH c AS (SELECT label, count(*) AS n FROM embeddings
                   GROUP BY label),
        t AS (SELECT sum(n) AS total, count(*) AS n_classes FROM c),
        w AS (
            SELECT c.label, c.n, t.total, t.n_classes,
                   (1e0 - {CB_BETA}e0) / (1e0 - pow({CB_BETA}e0, c.n))
                       AS raw_w
            FROM c CROSS JOIN t
        ),
        z AS (SELECT sum(raw_w * n) AS mass FROM w)
        SELECT CAST(w.label AS BIGINT) AS label,
               CAST(w.n AS BIGINT) AS n_examples,
               {R("w.raw_w", 6)} AS cb_weight_raw,
               {R("w.raw_w * w.total / z.mass", 6)} AS cb_weight_norm,
               {R("w.total * 1e0 / (w.n_classes * w.n)", 6)}
                   AS inv_freq_weight
        FROM w CROSS JOIN z
        ORDER BY label
    """


def class_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced loss weights per label over the embeddings corpus
    (see _class_balance_sql): the effective-number-of-samples weight,
    its mass-preserving normalization, and the inverse-frequency
    baseline it tempers.

    Scale shape: one grouped count (map-side combinable) plus two 1-row
    broadcast aggregates — O(classes) after the count at any corpus
    size."""
    load_tables(spark, sf_dir)
    return spark.sql(_class_balance_sql())


QUERIES["class_balance_weights"] = class_balance_weights
ORACLE["class_balance_weights"] = _class_balance_sql()


# --- distributed logistic-regression GD step ---------------------------------------
# One full-batch gradient-descent step of logistic regression, trained IN
# SQL: the gradient of the log-loss over the corpus is a sum of per-row
# contributions, i.e. exactly a map-side-combinable aggregate — the
# textbook reason distributed training of linear models is "just" a
# grouped sum (Bottou's SGD notes; Spark MLlib's own LBFGS does the same
# reduce). Per-row gradient and loss contributions are snapped to a 1e-6
# integer grid BEFORE summing, so the accumulation is an order-free
# BIGINT sum and both engines produce bit-identical weights.
LGD_LR = 1.0
LGD_FEATURES = ("bias", "ttr", "stop_ratio", "len_norm")


def _lgd_sql(split, length, distinct, filt, sw: str) -> str:
    """From w0 = 0 (where every p = 0.5 and the loss is ln 2 exactly),
    compute the mean gradient g_j = mean((p - y) x_j), step to
    w1 = -lr * g, and re-score the corpus for the post-step loss.
    Label: lang = 'en'. Features match the quality classifier's."""
    g_cols = []
    for j, f in enumerate(LGD_FEATURES):
        x = "1e0" if f == "bias" else f
        g_cols.append(
            f"sum(CAST(floor((0.5e0 - y) * {x} * 1000000e0 + 0.5e0)"
            f" AS BIGINT)) AS g{j}"
        )
    margin = " + ".join(
        f"w.w{j} * " + ("1e0" if f == "bias" else f"f.{f}")
        for j, f in enumerate(LGD_FEATURES)
    )
    arms = " UNION ALL ".join(
        f"""SELECT {j} AS feature_pos, '{f}' AS feature,
               g{j} AS graw FROM agg"""
        for j, f in enumerate(LGD_FEATURES)
    )
    return f"""
        WITH t AS (SELECT doc_id,
                          CASE WHEN lang = 'en' THEN 1e0 ELSE 0e0 END AS y,
                          {split} AS w
                   FROM documents),
        feat AS (
            SELECT doc_id, y,
                   {length}({distinct}(w)) * 1e0 / {length}(w) AS ttr,
                   {length}({filt}(w, x -> x IN ({sw}))) * 1e0
                       / {length}(w) AS stop_ratio,
                   least({length}(w) / 64e0, 2e0) AS len_norm
            FROM t
        ),
        agg AS (
            SELECT count(*) AS n, {", ".join(g_cols)}
            FROM feat
        ),
        w AS (
            SELECT n,
                   {", ".join(
                       f"-{LGD_LR}e0 * g{j} / (1000000e0 * n) AS w{j}"
                       for j in range(len(LGD_FEATURES)))}
            FROM agg
        ),
        post AS (
            SELECT sum(CAST(floor(
                       ln(1e0 + exp(-(2e0 * f.y - 1e0) * ({margin})))
                       * 1000000e0 + 0.5e0) AS BIGINT)) AS lsum,
                   count(*) AS n
            FROM feat f CROSS JOIN w
        ),
        arms AS ({arms})
        SELECT CAST(a.feature_pos AS BIGINT) AS feature_pos, a.feature,
               {R("a.graw / (1000000e0 * g.n)", 6)} AS grad_mean,
               {R(f"-{LGD_LR}e0 * a.graw / (1000000e0 * g.n)", 6)} AS w_next,
               {R("ln(2e0)", 6)} AS loss_before,
               {R("p.lsum / (1000000e0 * p.n)", 6)} AS loss_after
        FROM arms a CROSS JOIN agg g CROSS JOIN post p
        ORDER BY feature_pos
    """


def logistic_gd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact full-batch logistic-regression step over the documents
    corpus (label: lang = 'en'; see _lgd_sql): per-feature mean gradient,
    the stepped weights, and the corpus log-loss before/after — the
    distributed-training primitive expressed as two aggregates.

    Scale shape: TWO corpus scans (gradient pass, post-step loss pass),
    each a pure projection into a map-side-combinable integer sum; the
    weight vector travels as a 1-row broadcast. This is the exact shape
    a 100 TB linear-model trainer repeats per epoch — no shuffle beyond
    the 1-row aggregates, no driver-side loop over rows."""
    load_tables(spark, sf_dir)
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    return spark.sql(_lgd_sql(
        "split(text, ' ')", "size", "array_distinct", "filter",
        _sql_list(STOPWORDS),
    ))


def _lgd_oracle() -> str:
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    return _lgd_sql(
        "string_split(text, ' ')", "len", "list_distinct", "list_filter",
        _sql_list(STOPWORDS),
    )


QUERIES["logistic_gd_step"] = logistic_gd_step
ORACLE["logistic_gd_step"] = _lgd_oracle()


# --- logistic fold-stability report -------------------------------------------------
# Stability selection for the SQL training step: run the SAME full-batch
# logistic gradient step per md5 fold and report how much each weight
# moves across folds (Meinshausen & Buhlmann, JRSS-B 2010 motivate
# fold-resampled coefficient stability as the overfitting smell test).
# One corpus scan computes every fold's gradient AND the full-data
# gradient via GROUPING SETS; per-fold weights re-snap to an integer
# grid so the cross-fold min/max/sd are exact integer arithmetic.
LFS_FOLDS = 5


def _lfs_sql(split, length, distinct, filt, sw: str, md5fold: str) -> str:
    g_cols = []
    for j, f in enumerate(LGD_FEATURES):
        x = "1e0" if f == "bias" else f
        g_cols.append(
            f"sum(CAST(floor((0.5e0 - y) * {x} * 1000000e0 + 0.5e0)"
            f" AS BIGINT)) AS g{j}"
        )
    # per-fold weight on a 1e-9 integer grid (w <= ~0.5 -> fits BIGINT)
    w9 = [
        f"CAST(floor(-{LGD_LR}e0 * g{j} / (1000000e0 * n) * 1e9"
        f" + 0.5e0) AS BIGINT) AS w{j}"
        for j in range(len(LGD_FEATURES))
    ]
    arms = " UNION ALL ".join(
        f"""SELECT {j} AS feature_pos, '{f}' AS feature,
               (SELECT w{j} FROM w WHERE fold = -1) AS wfull9,
               min(w{j}) AS wmin9, max(w{j}) AS wmax9,
               sum(w{j}) AS ws, sum(w{j} * w{j}) AS wss, count(*) AS k
        FROM w WHERE fold >= 0"""
        for j, f in enumerate(LGD_FEATURES)
    )
    return f"""
        WITH t AS (SELECT doc_id,
                          CASE WHEN lang = 'en' THEN 1e0 ELSE 0e0 END AS y,
                          {md5fold} AS fold,
                          {split} AS w
                   FROM documents),
        feat AS (
            SELECT doc_id, y, fold,
                   {length}({distinct}(w)) * 1e0 / {length}(w) AS ttr,
                   {length}({filt}(w, x -> x IN ({sw}))) * 1e0
                       / {length}(w) AS stop_ratio,
                   least({length}(w) / 64e0, 2e0) AS len_norm
            FROM t
        ),
        agg AS (
            SELECT coalesce(fold, -1) AS fold, count(*) AS n,
                   {", ".join(g_cols)}
            FROM feat GROUP BY GROUPING SETS ((fold), ())
        ),
        w AS (SELECT fold, n, {", ".join(w9)} FROM agg),
        arms AS ({arms})
        SELECT CAST(feature_pos AS BIGINT) AS feature_pos, feature,
               {R("wfull9 / 1e9", 6)} AS w_full,
               {R("wmin9 / 1e9", 6)} AS w_fold_min,
               {R("wmax9 / 1e9", 6)} AS w_fold_max,
               {R("sqrt((wss - CAST(ws AS DOUBLE) * ws / k) / (k - 1))"
                  " / 1e9", 6)} AS w_fold_sd
        FROM arms
        ORDER BY feature_pos
    """


def logistic_fold_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-fold stability of the SQL logistic step's weights
    ({LFS_FOLDS} md5 folds; see _lfs_sql): the full-data weight next to
    the fold min/max/sd — a weight whose fold spread rivals its magnitude
    is noise, not signal.

    Scale shape: ONE corpus scan produces all {LFS_FOLDS} fold gradients
    plus the full-data gradient (GROUPING SETS = one Expand, map-side
    combinable integer sums); everything after runs on the
    ({LFS_FOLDS}+1)-row weight relation. Adding folds costs zero extra
    scans."""
    load_tables(spark, sf_dir)
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    return spark.sql(_lfs_sql(
        "split(text, ' ')", "size", "array_distinct", "filter",
        _sql_list(STOPWORDS),
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)"
        f" AS INT) % {LFS_FOLDS}",
    ))


def _lfs_oracle() -> str:
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    return _lfs_sql(
        "string_split(text, ' ')", "len", "list_distinct", "list_filter",
        _sql_list(STOPWORDS),
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))"
        f" AS INTEGER) % {LFS_FOLDS}",
    )


QUERIES["logistic_fold_stability"] = logistic_fold_stability
ORACLE["logistic_fold_stability"] = _lfs_oracle()


# --- expected calibration error summary ---------------------------------------------
# The scalar the reliability diagram integrates to: ECE = the bin-mass-
# weighted mean |confidence − accuracy| and MCE = its max (Naeini,
# Cooper & Hauskrecht, AAAI 2015 — the binned estimator every model card
# quotes), next to the total Brier score the per-bin table already
# decomposes. One number to trend per classifier release; the bins table
# stays the diagnostic drill-down.


def _ece_sql(*args) -> str:
    return _calib_binned_ctes(*args) + f"""
        , per AS (
            SELECT bin, count(*) AS n, avg(p) AS mp, avg(y * 1e0) AS my,
                   sum((p - y) * (p - y)) AS bs
            FROM binned GROUP BY bin
        ),
        tot AS (SELECT sum(n) AS n FROM per)
        SELECT CAST(t.n AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_bins,
               {R("sum(per.n * abs(per.mp - per.my)) / t.n", 6)} AS ece,
               {R("max(abs(per.mp - per.my))", 6)} AS mce,
               {R("sum(per.bs) / t.n", 6)} AS brier_score
        FROM per CROSS JOIN tot t
        GROUP BY t.n
    """


def ece_calibration_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECE / MCE / Brier for the quality classifier against the Gopher
    rule battery (see _ece_sql) — the one-row calibration health scalar
    over the same decile binning the reliability table exposes.

    Scale shape: identical to classifier_calibration_bins (one per-row
    feature+rule pass, a 10-group rollup); the summary adds a 10-row
    fold."""
    load_tables(spark, sf_dir)
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    sw = _sql_list(STOPWORDS)
    return spark.sql(_ece_sql(
        "split(text, ' ')", "size", "size(array_distinct(w))", "filter",
        "t RLIKE '[a-z]'", "array_intersect", sw, f"array({sw})",
    ))


def _ece_oracle() -> str:
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    sw = _sql_list(STOPWORDS)
    return _ece_sql(
        "string_split(text, ' ')", "len", "len(list_distinct(w))",
        "list_filter", "regexp_matches(t, '[a-z]')", "list_intersect",
        sw, f"[{sw}]",
    )


QUERIES["ece_calibration_summary"] = ece_calibration_summary
ORACLE["ece_calibration_summary"] = _ece_oracle()


# --- DoReMi-style domain-weight update ----------------------------------------------
# Xie et al. 2023 ("DoReMi: Optimizing Data Mixtures Speeds Up Language
# Model Pretraining"): group-DRO reweighting — each domain's mixture
# weight moves multiplicatively by exp(eta * excess loss), where excess
# = proxy-model loss minus a per-domain reference floor, then the
# weights renormalize and smooth toward uniform. This op runs one exact
# update over the documents sources: the proxy model is the SQL
# logistic step's post-step weights (_lgd_sql's exact-grid spelling),
# the reference floor is each domain's OWN irreducible Bernoulli
# entropy (the best any model can do on that domain's labels), and the
# whole update stays on the 1e-6 integer grid so both engines agree
# bit-for-bit. Completes the data-mixing tier next to DSIR /
# water-filling / mix_sources (round-10 verdict item 5).
DOREMI_ETA = 1.0     # multiplicative step size on excess loss
DOREMI_SMOOTH = 0.2  # uniform smoothing mass


def _doremi_feat_ctes(split, length, distinct, filt, sw: str,
                      src: str = "documents") -> str:
    """The t/feat CTE pair — shared verbatim by the batch op, the DuckDB
    oracle, and the streaming twin's per-micro-batch folds, so every
    feature double is bit-identical across all three."""
    return f"""t AS (SELECT doc_id, source,
                          CASE WHEN lang = 'en' THEN 1e0 ELSE 0e0 END AS y,
                          {split} AS w
                   FROM {src}),
        feat AS (
            SELECT doc_id, source, y,
                   {length}({distinct}(w)) * 1e0 / {length}(w) AS ttr,
                   {length}({filt}(w, x -> x IN ({sw}))) * 1e0
                       / {length}(w) AS stop_ratio,
                   least({length}(w) / 64e0, 2e0) AS len_norm
            FROM t
        )"""


def _doremi_gcols() -> list[str]:
    out = []
    for j, f in enumerate(LGD_FEATURES):
        x = "1e0" if f == "bias" else f
        out.append(
            f"sum(CAST(floor((0.5e0 - y) * {x} * 1000000e0 + 0.5e0)"
            f" AS BIGINT)) AS g{j}"
        )
    return out


def _doremi_margin(wref) -> str:
    """w . features, left-to-right; wref(j) names the j-th weight (a
    relation column in batch SQL, an exact literal in the stream)."""
    return " + ".join(
        f"{wref(j)} * " + ("1e0" if f == "bias" else f"f.{f}")
        for j, f in enumerate(LGD_FEATURES)
    )


def _doremi_dom_select(margin: str, src: str = "feat f CROSS JOIN w") -> str:
    """Per-domain loss/count aggregate under the margin expression —
    integer lsum so cross-batch folds are order-free exact."""
    return f"""
            SELECT f.source, count(*) AS n_i,
                   CAST(sum(f.y) AS BIGINT) AS pos,
                   sum(CAST(floor(
                       ln(1e0 + exp(-(2e0 * f.y - 1e0) * ({margin})))
                       * 1000000e0 + 0.5e0) AS BIGINT)) AS lsum
            FROM {src}
            GROUP BY f.source"""


def _doremi_sql(split, length, distinct, filt, sw: str) -> str:
    margin = _doremi_margin(lambda j: f"w.w{j}")
    return f"""
        WITH {_doremi_feat_ctes(split, length, distinct, filt, sw)},
        agg AS (SELECT count(*) AS n, {", ".join(_doremi_gcols())}
                FROM feat),
        w AS (
            SELECT n,
                   {", ".join(
                       f"-{LGD_LR}e0 * g{j} / (1000000e0 * n) AS w{j}"
                       for j in range(len(LGD_FEATURES)))}
            FROM agg
        ),
        dom AS ({_doremi_dom_select(margin)}
        ),
        {_doremi_tail_ctes("dom")}
        {_DOREMI_FINAL_SELECT}
    """


def _doremi_tail_ctes(dom_rel: str) -> str:
    """ref/upd/tot CTEs over a (source, n_i, pos, lsum) relation — the
    |domains|-row closed-form update, shared by the batch op, the
    oracle, and the streaming twin's finalizer."""
    return f"""ref AS (
            SELECT source, n_i,
                   CAST(floor(lsum * 1e0 / n_i + 0.5e0) AS BIGINT)
                       AS lbar6,
                   CASE WHEN pos = 0 OR pos = n_i THEN CAST(0 AS BIGINT)
                        ELSE CAST(floor(
                            -(pos * ln(pos * 1e0 / n_i)
                              + (n_i - pos) * ln((n_i - pos) * 1e0 / n_i))
                            / n_i * 1000000e0 + 0.5e0) AS BIGINT)
                   END AS href6
            FROM {dom_rel}
        ),
        upd AS (
            SELECT source, n_i, lbar6, href6,
                   greatest(CAST(0 AS BIGINT), lbar6 - href6) AS ex6,
                   CAST(floor(exp({DOREMI_ETA}e0
                        * greatest(CAST(0 AS BIGINT), lbar6 - href6)
                        / 1000000e0) * 1000000e0 + 0.5e0) AS BIGINT)
                       AS factor6
            FROM ref
        ),
        tot AS (
            SELECT sum(n_i) AS n, sum(n_i * factor6) AS z,
                   count(*) AS k
            FROM upd
        )"""


_DOREMI_FINAL_SELECT = f"""
        SELECT u.source,
               CAST(u.n_i AS BIGINT) AS n_docs,
               {R("u.lbar6 / 1000000e0", 6)} AS proxy_loss,
               {R("u.href6 / 1000000e0", 6)} AS ref_loss,
               {R("u.ex6 / 1000000e0", 6)} AS excess_loss,
               {R("u.n_i * 1e0 / t.n", 6)} AS old_share,
               {R(f"(1e0 - {DOREMI_SMOOTH}e0) * u.n_i * u.factor6"
                  f" / t.z + {DOREMI_SMOOTH}e0 / t.k", 6)} AS new_weight
        FROM upd u CROSS JOIN tot t
        ORDER BY u.source
    """


def doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact DoReMi domain-weight update over the documents sources
    (see _doremi_sql): per-domain proxy loss under the SQL logistic
    step's post-step weights, excess over the domain's own Bernoulli-
    entropy floor, multiplicative exp({DOREMI_ETA} * excess) reweighting
    of the current corpus shares, renormalized and smoothed
    {DOREMI_SMOOTH} toward uniform. new_weight sums to 1 and is monotone
    in excess relative to old_share by construction — both asserted by
    the independent Python replay in tests.

    Scale shape: TWO corpus scans (the gradient aggregate, then one
    grouped pass producing every domain's loss sum + label counts);
    the model state is a 1-row broadcast weight vector and the update
    itself runs on the |domains|-row relation — the group-DRO shape a
    100 TB mixture tuner repeats per epoch."""
    load_tables(spark, sf_dir)
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    return spark.sql(_doremi_sql(
        "split(text, ' ')", "size", "array_distinct", "filter",
        _sql_list(STOPWORDS),
    ))


def _doremi_oracle() -> str:
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    return _doremi_sql(
        "string_split(text, ' ')", "len", "list_distinct", "list_filter",
        _sql_list(STOPWORDS),
    )


QUERIES["doremi_domain_weights"] = doremi_domain_weights
ORACLE["doremi_domain_weights"] = _doremi_oracle()


# --- Mondrian (group-conditional) split-conformal coverage ---------------------------
# Vovk et al. 2005 / Lei & Wasserman: split-conformal prediction wraps
# ANY scorer in a finite-sample coverage guarantee; the Mondrian variant
# calibrates PER CATEGORY so the guarantee holds within each source, not
# just on average — exactly the per-domain QA a 100 TB curation pipeline
# needs before trusting a filter's probabilities. Scorer = the fixed-
# weight quality classifier's rational sigmoid (no libm, bit-identical
# across engines); label = lang = 'en'; nonconformity s = 1-p for
# positives, p for negatives; calibration/eval split by md5(doc_id)
# parity. q_hat is the ceil((n_cal+1)(1-ALPHA))-th smallest calibration
# score — an exact order statistic on the 1e-6 integer grid.
CONF_ALPHA = 0.1


def _conformal_sql(split, length, distinct, filt, sw: str,
                   md5par: str) -> str:
    p = "0.5e0 + 0.5e0 * logit / (1e0 + abs(logit))"
    return f"""
        WITH t AS (SELECT doc_id, source,
                          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                          {md5par} AS fold,
                          {split} AS w
                   FROM documents),
        feat AS (
            SELECT doc_id, source, y, fold,
                   {length}({distinct}(w)) * 1e0 / {length}(w) AS ttr,
                   {length}({filt}(w, x -> x IN ({sw}))) * 1e0
                       / {length}(w) AS stop_ratio,
                   least({length}(w) / 64e0, 2e0) AS len_norm
            FROM t
        ),
        z AS (
            SELECT doc_id, source, y, fold,
                   {QC_BIAS}e0 + {QC_W_TTR}e0 * ttr
                       + {QC_W_STOP}e0 * stop_ratio
                       + {QC_W_LEN}e0 * len_norm AS logit
            FROM feat
        ),
        s AS (
            SELECT doc_id, source, y, fold,
                   CAST(floor((CASE WHEN y = 1 THEN 1e0 - ({p})
                                    ELSE {p} END) * 1000000e0 + 0.5e0)
                        AS BIGINT) AS s6,
                   CAST(floor((1e0 - ({p})) * 1000000e0 + 0.5e0)
                        AS BIGINT) AS spos6,
                   CAST(floor(({p}) * 1000000e0 + 0.5e0)
                        AS BIGINT) AS sneg6
            FROM z
        ),
        k AS (
            SELECT source, count(*) AS n_cal,
                   CAST(ceil((count(*) + 1) * {1 - CONF_ALPHA}e0)
                        AS BIGINT) AS kk
            FROM s WHERE fold = 0 GROUP BY source
        ),
        r AS (
            SELECT source, s6,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY s6, doc_id) AS rn
            FROM s WHERE fold = 0
        ),
        q AS (
            -- kk > n_cal means the conformal set is everything: q_hat
            -- = +infinity, spelled NULL and handled below
            SELECT k.source, k.n_cal, k.kk,
                   max(CASE WHEN r.rn = k.kk THEN r.s6 END) AS qhat6
            FROM k LEFT JOIN r ON r.source = k.source
            GROUP BY k.source, k.n_cal, k.kk
        )
        SELECT e.source,
               CAST(q.n_cal AS BIGINT) AS n_cal,
               CAST(count(*) AS BIGINT) AS n_eval,
               {R("q.qhat6 / 1000000e0", 6)} AS q_hat,
               {R("avg(CASE WHEN q.qhat6 IS NULL"
                  " OR e.s6 <= q.qhat6 THEN 1e0 ELSE 0e0 END)", 6)}
                   AS coverage,
               {R("avg((CASE WHEN q.qhat6 IS NULL"
                  " OR e.spos6 <= q.qhat6 THEN 1e0 ELSE 0e0 END)"
                  " + (CASE WHEN q.qhat6 IS NULL"
                  " OR e.sneg6 <= q.qhat6 THEN 1e0 ELSE 0e0 END))", 6)}
                   AS avg_set_size,
               {R(f"{1 - CONF_ALPHA}e0", 6)} AS target_coverage
        FROM s e JOIN q ON q.source = e.source
        WHERE e.fold = 1
        GROUP BY e.source, q.n_cal, q.qhat6
        ORDER BY e.source
    """


def mondrian_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source split-conformal calibration of the quality classifier
    (see _conformal_sql): the order-statistic threshold q_hat, the
    empirical eval-fold coverage against the 1-{CONF_ALPHA} target, and
    the average conformal prediction-set size (2 = the scorer says
    nothing, 1 = sharp).

    Scale shape: one corpus scan computes scores and fold membership;
    the only window is the calibration rank, PARTITIONed by source (the
    Mondrian categories), and the output is |sources| rows. The exact
    integer grid makes the order statistic engine-stable."""
    load_tables(spark, sf_dir)
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    return spark.sql(_conformal_sql(
        "split(text, ' ')", "size", "array_distinct", "filter",
        _sql_list(STOPWORDS),
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)"
        " AS INT) % 2",
    ))


def _conformal_oracle() -> str:
    from database_toolbox_spark.operators.text import (  # noqa: PLC0415
        STOPWORDS,
        _sql_list,
    )

    return _conformal_sql(
        "string_split(text, ' ')", "len", "list_distinct", "list_filter",
        _sql_list(STOPWORDS),
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))"
        " AS INTEGER) % 2",
    )


QUERIES["mondrian_conformal_coverage"] = mondrian_conformal_coverage
ORACLE["mondrian_conformal_coverage"] = _conformal_oracle()
