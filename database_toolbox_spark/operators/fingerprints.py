"""Positional document fingerprinting + split hygiene (round-5 tranche of
the LLM-data-pipeline tier; the reference at /root/reference ships no
fingerprinting operators — this extends the dedup family mandated by the
build brief alongside operators/dedup.py).

Four operator groups, all dual-dialect (PySpark + DuckDB oracle):

- **Winnowing** (Schleimer, Wilkerson, Aiken, "Winnowing: Local Algorithms
  for Document Fingerprinting", SIGMOD'03): position-ordered k-gram hashes,
  a sliding window of W consecutive hashes, and the window-minimum hash as
  the selected fingerprint. Guarantees any shared substring of at least
  W + K - 1 tokens produces a shared fingerprint, at expected density
  2/(W+1) — the MOSS plagiarism-detector algorithm, and the standard
  position-aware alternative to MinHash when *where* the overlap occurs
  matters.
- **Content-defined chunking** (Muthitacharoen, Chen, Mazieres, "A
  Low-bandwidth Network File System", SOSP'01): chunk boundaries where a
  rolling content hash hits a modulus target, so insertions shift at most
  one chunk boundary (unlike fixed-size blocks). Chunk-hash frequency =
  the storage-dedup ratio a content-addressed 100 TB corpus store sees.
- **Split leakage audit**: near-dup pairs (the verified MinHash LSH set
  from operators/dedup.py) crossing the md5 train/valid/test boundary of
  operators/curation.py — the eval-contamination report every training
  pipeline needs before shipping a split.
- **IDF-weighted cosine pairs**: shingle-set cosine with integer
  rarity-bucket weights (power-of-two df buckets stand in for idf — pure
  integer arithmetic end-to-end, so cross-engine determinism is exact; the
  threshold compare is done in integers: cos >= 0.6 iff 25*dot^2 >=
  9*|a|^2*|b|^2). Weighted complement to the unweighted Jaccard operators:
  rare shingles dominate, boilerplate is discounted.

Scale notes (100 TB):
- Every pair-producing join is an equi-join on a fingerprint/shingle key,
  never a cross join; winnowing pairs additionally drop stop-fingerprints
  (df > STOP_DF) before the self-join — the same hot-key control MOSS
  applies, and exactly the skew cap that keeps the shuffle balanced.
- Window functions partition by doc_id (per-doc state, never a global
  window).
- The split-leakage audit reuses the banded-LSH pair set: candidates are
  band-bucket collisions, output is a 9-row split-pair matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from database_toolbox_spark.operators._oracle import R
# md5 split buckets live in operators/dedup.py (fuzzy_decontamination
# shares them and dedup must import without this module being loaded)
from database_toolbox_spark.operators.dedup import (
    _band_pairs_sql,
    _DUCK_SHINGLES,
    _SH_CTE,
    _shingles,
    _SPLIT_BUCKET_DUCK,
    _SPLIT_BUCKET_SPARK,
    minhash_near_dup_pairs,
)
from database_toolbox_spark.session import (
    load_tables,
    materialize,
    report_sort,
    strip_order_by,
)

WINNOW_W = 4  # winnowing window: guarantees matches of >= W+3-1 = 6 tokens
STOP_DF = 32  # fingerprints in more docs than this are boilerplate/stop
MIN_SHARED = 3  # winnowing pair report threshold
CDC_MOD = 16  # expected content-defined chunk length in tokens

# --- position-ordered 3-gram hashes (60-bit, per dialect) -------------------
# Unlike dedup's set-shingles, position matters here: pos is the k-gram's
# 1-based start token index, contiguous 1..n_tokens-2.

_SPARK_POS_SHINGLES = """
    WITH toks AS (SELECT doc_id, split(text, ' ') AS w FROM documents
                  WHERE size(split(text, ' ')) >= 3),
    sh AS (
        SELECT doc_id, i AS pos,
               CAST(conv(substring(md5(concat_ws('_', element_at(w, i),
                   element_at(w, i + 1), element_at(w, i + 2))), 1, 15),
                   16, 10) AS BIGINT) AS h
        FROM toks LATERAL VIEW explode(sequence(1, size(w) - 2)) t AS i
    )
"""

_DUCK_POS_SHINGLES = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                  WHERE len(string_split(text, ' ')) >= 3),
    sh AS (
        SELECT t.doc_id, u.i AS pos,
               CAST(concat('0x', substr(md5(t.w[u.i] || '_' || t.w[u.i + 1]
                   || '_' || t.w[u.i + 2]), 1, 15)) AS BIGINT) AS h
        FROM toks t, LATERAL (SELECT unnest(range(1, len(t.w) - 1)) AS i) u
    )
"""

# --- per-token positions (for content-defined chunking) ---------------------

_SPARK_POS_TOKENS = """
    WITH toks AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
    tok AS (
        SELECT doc_id, i AS pos, element_at(w, i) AS tok,
               CAST(conv(substring(md5(element_at(w, i)), 1, 15), 16, 10)
                   AS BIGINT) AS h
        FROM toks LATERAL VIEW explode(sequence(1, size(w))) t AS i
    )
"""

_DUCK_POS_TOKENS = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tok AS (
        SELECT t.doc_id, u.i AS pos, t.w[u.i] AS tok,
               CAST(concat('0x', substr(md5(t.w[u.i]), 1, 15)) AS BIGINT) AS h
        FROM toks t, LATERAL (SELECT unnest(range(1, len(t.w) + 1)) AS i) u
    )
"""


def _winnow_fp_cte() -> str:
    """Window-min fingerprint selection over the positional hash stream
    (dialect-neutral: identical window-function SQL in both engines).
    Selects the DISTINCT window-minimum values per doc once every window
    is full (pos >= W) — the winnowing fingerprint set."""
    return f"""
        wm AS (
            SELECT doc_id, pos,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW
                   ) AS fp
            FROM sh
        ),
        fp AS (
            SELECT DISTINCT doc_id, fp FROM wm WHERE pos >= {WINNOW_W}
        )
    """


def _winnow_stats_sql(pos_shingles: str) -> str:
    return f"""
        {pos_shingles},
        {_winnow_fp_cte()},
        per_doc AS (
            SELECT s.doc_id,
                   count(*) AS n_sh,
                   count(*) - {WINNOW_W - 1} AS n_windows
            FROM sh s GROUP BY s.doc_id
        ),
        per_fp AS (
            SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id
        )
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(p.n_sh) AS BIGINT) AS n_shingles,
               CAST(sum(coalesce(f.n_fp, 0)) AS BIGINT) AS n_fingerprints,
               {R("sum(coalesce(f.n_fp, 0)) * 1e0"
                  " / sum(CASE WHEN p.n_windows > 0 THEN p.n_windows"
                  " ELSE 0 END)", 6)} AS fp_density
        FROM per_doc p
        JOIN documents d ON d.doc_id = p.doc_id
        LEFT JOIN per_fp f ON f.doc_id = p.doc_id
        GROUP BY d.source ORDER BY d.source
    """


def _winnow_pairs_tail() -> str:
    """Pair report given an `fp(doc_id, fp)` CTE (the selected
    fingerprints). Split out so the Spark side can materialize fp once —
    fp is referenced (directly or via fpk) 4x below and CTE inlining
    would replay the whole positional-window pass per reference."""
    return f"""
        df AS (SELECT fp, count(*) AS df FROM fp GROUP BY fp),
        fpk AS (
            SELECT f.doc_id, f.fp
            FROM fp f JOIN df ON df.fp = f.fp
            WHERE df.df <= {STOP_DF}
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM fpk GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
            FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               CAST(c.n_shared AS BIGINT) AS n_shared,
               {R("c.n_shared * 1e0 / least(sa.n, sb.n)", 6)} AS containment
        FROM common c
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        WHERE c.n_shared >= {MIN_SHARED}
        ORDER BY c.doc_a, c.doc_b
    """


def _winnow_pairs_sql(pos_shingles: str) -> str:
    """Fully-inlined pair SQL (oracle use — DuckDB materializes
    multiply-referenced CTEs itself)."""
    return f"{pos_shingles}, {_winnow_fp_cte()}, {_winnow_pairs_tail()}"


def winnowing_fingerprint_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winnowing fingerprint selection profile per source: shingle count,
    selected-fingerprint count, and observed density (expected 2/(W+1) ~=
    0.4 at W=4 on random hashes; duplicated text pushes it down because
    window minima repeat and collapse under DISTINCT).

    Scale shape: one positional projection (per-doc window, partitioned by
    doc_id), two grouped aggs — no joins beyond the corpus-size source
    dimension. Density is computed from corpus-level integer totals, not
    an avg of per-doc doubles, so cross-engine equality is exact. The
    positional hash stream `sh` is materialized once — it feeds both the
    per-doc totals and the window pass, and CTE inlining would replay the
    tokenize+hash projection per reference."""
    load_tables(spark, sf_dir)
    materialize(
        spark.sql(f"{_SPARK_POS_SHINGLES} SELECT * FROM sh")
    ).createOrReplaceTempView("win_sh_v")
    return spark.sql(_winnow_stats_sql("WITH sh AS (SELECT * FROM win_sh_v)"))


def winnowing_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap pairs via shared winnowing fingerprints: docs sharing >=
    MIN_SHARED selected fingerprints, with the containment fraction
    (shared / smaller fingerprint set). By the winnowing guarantee, any
    pair sharing a run of >= W+2 tokens shares at least one fingerprint;
    requiring 3 makes the report robust to single-collision noise.

    Scale shape: postings self-equi-join on the fingerprint value AFTER
    dropping stop-fingerprints (df > STOP_DF) — boilerplate fingerprints
    are both semantically noisy and the hot keys that would skew the
    shuffle; dropping them bounds any fingerprint's contribution to
    df^2 <= STOP_DF^2 candidate pairs. The selected-fingerprint set is
    materialized once (it is referenced 4x: df counts, the pruned
    postings, sizes, and both join sides) — inlined, Catalyst replays
    the positional-window pass per reference (~8 scans, observed)."""
    load_tables(spark, sf_dir)
    materialize(
        spark.sql(
            f"{_SPARK_POS_SHINGLES}, {_winnow_fp_cte()} SELECT * FROM fp"
        )
    ).createOrReplaceTempView("win_fp_v")
    return spark.sql(
        "WITH fp AS (SELECT * FROM win_fp_v)," + _winnow_pairs_tail()
    )


def _cdc_sql(pos_tokens: str, chunk_text: str) -> str:
    return f"""
        {pos_tokens},
        flagged AS (
            SELECT doc_id, pos, tok,
                   CASE WHEN h % {CDC_MOD} = 0 THEN 1 ELSE 0 END AS is_b
            FROM tok
        ),
        assigned AS (
            SELECT doc_id, pos, tok,
                   sum(is_b) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS chunk_id
            FROM flagged
        ),
        chunks AS (
            SELECT doc_id, chunk_id,
                   md5({chunk_text}) AS chunk_hash,
                   count(*) AS n_tokens
            FROM assigned GROUP BY doc_id, chunk_id
        )
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(count(DISTINCT c.chunk_hash) AS BIGINT)
                   AS n_distinct_chunks,
               {R("1e0 - count(DISTINCT c.chunk_hash) * 1e0 / count(*)", 6)}
                   AS dup_chunk_ratio,
               {R("sum(c.n_tokens) * 1e0 / count(*)", 4)} AS avg_chunk_tokens
        FROM chunks c JOIN documents d ON d.doc_id = c.doc_id
        GROUP BY d.source ORDER BY d.source
    """


def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup profile per source: token-stream
    chunk boundaries wherever the token hash % CDC_MOD == 0 (expected
    chunk ~CDC_MOD tokens; boundaries move with CONTENT, so an insertion
    early in a doc re-chunks only its neighborhood — the LBFS/rsync
    property fixed-size blocks lack), chunk identity = md5 of the
    ordered token span, and the fraction of chunk instances whose hash
    already exists = the dedup ratio a content-addressed store achieves.

    Scale shape: positional projection, per-doc running-sum window, one
    grouped agg per (doc, chunk) with ordered-fold text assembly (Spark:
    array_sort over (pos, tok) structs — collect_list order after a
    shuffle is NOT guaranteed; DuckDB: string_agg ORDER BY), then a
    per-source count-distinct."""
    load_tables(spark, sf_dir)
    return spark.sql(_cdc_sql(
        _SPARK_POS_TOKENS,
        "concat_ws(' ', transform(array_sort(collect_list(struct(pos, tok))),"
        " x -> x.tok))",
    ))


def _leakage_sql(pairs_sql: str, bucket_expr: str) -> str:
    # thresholds match operators/curation.py hash_split_counts (90/5/5)
    return f"""
        WITH pairs AS (
            {pairs_sql}
        ),
        splits AS (
            SELECT doc_id,
                   CASE WHEN {bucket_expr} < 90 THEN 'train'
                        WHEN {bucket_expr} < 95 THEN 'valid'
                        ELSE 'test' END AS split_name
            FROM documents
        )
        SELECT least(sa.split_name, sb.split_name) AS split_a,
               greatest(sa.split_name, sb.split_name) AS split_b,
               CAST(count(*) AS BIGINT) AS n_near_dup_pairs,
               CAST(sum(CASE WHEN sa.split_name <> sb.split_name
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
        FROM pairs p
        JOIN splits sa ON sa.doc_id = p.doc_a
        JOIN splits sb ON sb.doc_id = p.doc_b
        GROUP BY least(sa.split_name, sb.split_name),
                 greatest(sa.split_name, sb.split_name)
        ORDER BY split_a, split_b
    """


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-contamination audit of the md5 90/5/5 split: the verified
    MinHash-LSH near-dup pair set (operators/dedup.py) bucketed by which
    split each endpoint landed in. Any pair in an off-diagonal row
    (train x valid, train x test, valid x test) is leakage — a test
    document whose near-duplicate is trained on. n_leaked restates the
    off-diagonal count so the diagonal rows read as zero.

    Scale shape: the pair set is the banded-LSH join (pairs-scale); the
    split assignment is a pure per-row projection joined back twice by
    doc_id; output is a <= 6-row matrix. Composes
    minhash_near_dup_pairs (whose shingle/signature intermediates are
    materialized once inside it) instead of inlining _band_pairs_sql —
    the inline form replayed the shingle explosion 3x and the signature
    aggregate up to 8x within the statement (the round-12
    fuzzy_decontamination lesson applied); the oracle keeps the inline
    single-statement spelling."""
    load_tables(spark, sf_dir)
    minhash_near_dup_pairs(spark, sf_dir).select(
        "doc_a", "doc_b"
    ).createOrReplaceTempView("leak_pairs_v")
    return spark.sql(_leakage_sql(
        "SELECT doc_a, doc_b FROM leak_pairs_v",
        _SPLIT_BUCKET_SPARK,
    ))


_IDF_W_CTE = """
        df AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY s),
        w AS (
            SELECT sh.doc_id, sh.s,
                   CASE WHEN df.df = 1 THEN 8
                        WHEN df.df <= 2 THEN 7
                        WHEN df.df <= 4 THEN 6
                        WHEN df.df <= 8 THEN 5
                        WHEN df.df <= 16 THEN 4
                        WHEN df.df <= 32 THEN 3
                        WHEN df.df <= 64 THEN 2
                        ELSE 1 END AS wt
            FROM sh JOIN df ON df.s = sh.s
        )
"""


def _idf_cosine_tail() -> str:
    """Cosine-pair report given a `w(doc_id, s, wt)` CTE. Split out so the
    Spark side can materialize w once (referenced 3x: norms + both join
    sides) — inlined, Catalyst replays the shingle+df pipeline per
    reference."""
    return f"""
        norm2 AS (
            SELECT doc_id, CAST(sum(wt * wt) AS BIGINT) AS n2
            FROM w GROUP BY doc_id
        ),
        dots AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(sum(a.wt * b.wt) AS BIGINT) AS dot
            FROM w a JOIN w b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT d.doc_a, d.doc_b,
               {R("d.dot / sqrt(na.n2 * 1e0 * nb.n2)", 6)} AS cosine
        FROM dots d
        JOIN norm2 na ON na.doc_id = d.doc_a
        JOIN norm2 nb ON nb.doc_id = d.doc_b
        WHERE 25 * d.dot * d.dot >= 9 * na.n2 * nb.n2
        ORDER BY d.doc_a, d.doc_b
    """


def idf_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarity-weighted shingle cosine pairs (cos >= 0.6): each distinct
    3-gram shingle carries an integer weight by power-of-two df bucket
    (df=1 -> 8 ... df>64 -> 1 — an integer staircase standing in for idf),
    so rare shingles dominate the similarity and boilerplate is
    discounted — the weighted complement to ngram_jaccard_pairs'
    unweighted set view.

    Determinism: weights, dot products, and squared norms are exact
    BIGINTs; the threshold is evaluated in integers (cos >= 3/5 iff
    25*dot^2 >= 9*|a|^2*|b|^2), and the reported cosine involves exactly
    one sqrt and one division on integer-derived doubles — bit-equal
    across engines, no float-sum merge-order hazard.

    Scale shape: the same postings self-equi-join as the exact-Jaccard
    ground truth (1.82x time at 10x rows in SCALING.md); the df join is
    a shingle-keyed broadcast-sized dimension at any corpus size where
    df-bucket weights matter. The shingle stream (the dedup tier
    builder's checkpoint) and the weighted postings are each materialized
    once (sh feeds df + the weight join; w feeds norms + both pair-join
    sides) — inlined, Catalyst replays the tokenize+shingle pipeline per
    reference."""
    load_tables(spark, sf_dir)
    _shingles(spark)
    materialize(
        spark.sql(f"{_SH_CTE}, {_IDF_W_CTE} SELECT * FROM w")
    ).createOrReplaceTempView("idf_w_v")
    # report_sort: the norm2 joins above the dots aggregate are broadcast
    # joins, so a trailing ORDER BY made the range sampler re-run the
    # post-shuffle join/filter work once more per action; the thresholded
    # cosine pair list is a bounded report
    body = strip_order_by(
        "WITH w AS (SELECT * FROM idf_w_v)," + _idf_cosine_tail(),
        "ORDER BY d.doc_a, d.doc_b",
    )
    return report_sort(spark.sql(body), "doc_a", "doc_b")


def _idf_cosine_sql(shingles: str) -> str:
    """Fully-inlined cosine-pair SQL (oracle use)."""
    return f"{shingles}, {_IDF_W_CTE}, {_idf_cosine_tail()}"


QUERIES = {
    "winnowing_fingerprint_stats": winnowing_fingerprint_stats,
    "winnowing_dup_pairs": winnowing_dup_pairs,
    "cdc_chunk_dedup": cdc_chunk_dedup,
    "split_leakage_audit": split_leakage_audit,
    "idf_cosine_dup_pairs": idf_cosine_dup_pairs,
}

ORACLE = {
    "winnowing_fingerprint_stats": _winnow_stats_sql(_DUCK_POS_SHINGLES),
    "winnowing_dup_pairs": _winnow_pairs_sql(_DUCK_POS_SHINGLES),
    "cdc_chunk_dedup": _cdc_sql(
        _DUCK_POS_TOKENS, "string_agg(tok, ' ' ORDER BY pos)"
    ),
    "split_leakage_audit": _leakage_sql(
        _band_pairs_sql(_DUCK_SHINGLES, lambda a, b: f"({a} || {b})"),
        _SPLIT_BUCKET_DUCK,
    ),
    "idf_cosine_dup_pairs": _idf_cosine_sql(_DUCK_SHINGLES),
}


# --- cross-doc repeated-span coverage ----------------------------------------

MOSTLY_DUP_NUM = 1  # flag docs with coverage >= NUM/DEN (integer compare)
MOSTLY_DUP_DEN = 2


def _span_coverage_sql(pos_shingles: str) -> str:
    """Per-source cross-document duplication coverage: the share of each
    doc's positional 3-gram positions whose hash also occurs in at least
    one OTHER document (the per-token duplication metric of ExactSubstr
    dedup, Lee et al., "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499 — k-gram-hash approximation instead of a
    suffix array, which is the 100 TB-practical spelling)."""
    return f"""
        {pos_shingles},
        hd AS (
            SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM sh GROUP BY h
        ),
        per_doc AS (
            SELECT s.doc_id,
                   CAST(count(*) AS BIGINT) AS n_pos,
                   CAST(sum(CASE WHEN hd.n_docs >= 2 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_dup_pos
            FROM sh s JOIN hd ON hd.h = s.h
            GROUP BY s.doc_id
        )
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(p.n_pos) AS BIGINT) AS n_positions,
               CAST(sum(p.n_dup_pos) AS BIGINT) AS n_dup_positions,
               {R("sum(p.n_dup_pos) * 1e0 / sum(p.n_pos)", 6)}
                   AS mean_coverage,
               CAST(sum(CASE WHEN {MOSTLY_DUP_DEN} * p.n_dup_pos
                             >= {MOSTLY_DUP_NUM} * p.n_pos
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_mostly_dup
        FROM per_doc p
        JOIN documents d ON d.doc_id = p.doc_id
        GROUP BY d.source ORDER BY d.source
    """


def cross_doc_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span coverage per source (see
    _span_coverage_sql): how much of each source's token stream is
    covered by 3-grams that also appear elsewhere in the corpus — the
    measurement ExactSubstr dedup acts on, and the per-source triage for
    where substring-level dedup would pay. Docs with coverage >= 1/2 are
    counted as mostly-duplicated (exact integer compare — no float
    knife-edge on the flag).

    Scale shape: one grouped distinct-doc count per hash (map-side
    combinable), one equi-join of the positional stream back onto that
    hash relation, two grouped rollups. All linear; the hash relation is
    the only wide shuffle and it is keyed by the 60-bit hash — uniform.
    The n_docs >= 2 filter is evaluated post-join, so no correlated
    subquery appears in either engine.

    The positional shingle stream is materialized once (guide §2.4): it
    feeds hd AND the per_doc join side, and Catalyst inlines CTEs, so
    the one-statement form replayed tokenize + explode + md5 twice
    (measured 1.62 s -> 0.67 s at sf0.1; the oracle keeps the inline
    form)."""
    load_tables(spark, sf_dir)
    materialize(
        spark.sql(f"{_SPARK_POS_SHINGLES} SELECT * FROM sh")
    ).createOrReplaceTempView("sc_sh")
    return spark.sql(
        _span_coverage_sql("WITH sh AS (SELECT * FROM sc_sh)")
    )


QUERIES["cross_doc_span_coverage"] = cross_doc_span_coverage
ORACLE["cross_doc_span_coverage"] = _span_coverage_sql(_DUCK_POS_SHINGLES)


# --- split decontamination (the transform twin of the leakage audit) ---------


def _decontam_resplit_sql(pairs_sql: str, bucket_expr: str) -> str:
    """The (doc_id, split_name, new_split) relation — split out so the
    Spark side can materialize it once: the counts tail reads it 3x
    (before/moved/after), and CTE inlining would replay the whole
    banded-LSH pair join per reference."""
    return f"""
        WITH pairs AS (
            {pairs_sql}
        ),
        splits AS (
            SELECT doc_id,
                   CASE WHEN {bucket_expr} < 90 THEN 'train'
                        WHEN {bucket_expr} < 95 THEN 'valid'
                        ELSE 'test' END AS split_name
            FROM documents
        ),
        contaminated AS (
            SELECT DISTINCT CASE WHEN sa.split_name = 'train'
                                 THEN p.doc_b ELSE p.doc_a END AS doc_id
            FROM pairs p
            JOIN splits sa ON sa.doc_id = p.doc_a
            JOIN splits sb ON sb.doc_id = p.doc_b
            WHERE (sa.split_name = 'train' AND sb.split_name <> 'train')
               OR (sb.split_name = 'train' AND sa.split_name <> 'train')
        ),
        resplit AS (
            SELECT s.doc_id, s.split_name,
                   CASE WHEN c.doc_id IS NOT NULL THEN 'train'
                        ELSE s.split_name END AS new_split
            FROM splits s LEFT JOIN contaminated c ON c.doc_id = s.doc_id
        )
        SELECT doc_id, split_name, new_split FROM resplit
    """


_DECONTAM_TAIL = """
        before AS (
            SELECT split_name, count(*) AS n FROM resplit GROUP BY split_name
        ),
        moved AS (
            SELECT split_name, count(*) AS n FROM resplit
            WHERE new_split <> split_name GROUP BY split_name
        ),
        after AS (
            SELECT new_split AS split_name, count(*) AS n FROM resplit
            GROUP BY new_split
        )
        SELECT b.split_name,
               CAST(b.n AS BIGINT) AS n_before,
               CAST(coalesce(m.n, 0) AS BIGINT) AS n_moved_to_train,
               CAST(coalesce(a.n, 0) AS BIGINT) AS n_after
        FROM before b
        LEFT JOIN moved m ON m.split_name = b.split_name
        LEFT JOIN after a ON a.split_name = b.split_name
        ORDER BY b.split_name
"""


def split_decontaminated_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split decontamination — the TRANSFORM twin of split_leakage_audit:
    every valid/test document with a verified near-duplicate in train is
    REASSIGNED to train (moving, not dropping, preserves corpus mass and
    is the standard remediation: the eval sets lose only their
    contaminated members, and no train text is discarded). Reports the
    per-split before/moved/after accounting. valid x test cross-pairs
    are left in place (they do not leak train data into evals — the
    audit row documents them).

    Scale shape: the pair set is the banded-LSH join reused from the
    audit; contamination is two doc_id equi-joins + a DISTINCT; the
    re-split is a per-row projection with one LEFT join; counts are
    3-row rollups. Composes minhash_near_dup_pairs for the pair set
    (same rationale as split_leakage_audit above — the inline
    _band_pairs_sql replayed shingles/signatures within the resplit
    build); the oracle keeps the inline single-statement spelling."""
    load_tables(spark, sf_dir)
    minhash_near_dup_pairs(spark, sf_dir).select(
        "doc_a", "doc_b"
    ).createOrReplaceTempView("decontam_pairs_v")
    materialize(spark.sql(_decontam_resplit_sql(
        "SELECT doc_a, doc_b FROM decontam_pairs_v",
        _SPLIT_BUCKET_SPARK,
    ))).createOrReplaceTempView("decontam_resplit_v")
    return spark.sql(
        "WITH resplit AS (SELECT * FROM decontam_resplit_v)," + _DECONTAM_TAIL
    )


QUERIES["split_decontaminated_counts"] = split_decontaminated_counts
# the resplit body keeps its own nested WITH (legal inside the CTE parens)
ORACLE["split_decontaminated_counts"] = (
    "WITH resplit AS MATERIALIZED ("
    + _decontam_resplit_sql(
        _band_pairs_sql(_DUCK_SHINGLES, lambda a, b: f"({a} || {b})"),
        _SPLIT_BUCKET_DUCK,
    )
    + "),"
    + _DECONTAM_TAIL
)
