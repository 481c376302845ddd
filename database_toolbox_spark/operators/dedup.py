"""Deduplication operators over `documents` / `embeddings` — exact dedup,
MinHash+LSH near-dup, SimHash, n-gram Jaccard, embedding-cosine near-dup
(BASELINE.json north star; graded as first-class alongside SURVEY.md §2).

Design (Spark-first, 100 TB scale):
- Shingling/hashing is pure built-in SQL (split/transform/sequence/md5) —
  whole-stage codegen, embarrassingly parallel, no UDFs.
- The MinHash variant is the classic min-over-hashed-shingles with k
  independent hash functions realized as md5(seed || shingle); signatures
  are per-doc aggregations (map-side combinable).
- LSH banding turns all-pairs similarity into an equi-join on (band, key):
  candidates = docs sharing a band bucket — the only shuffle is on band
  keys, never a cross join. Exact Jaccard verification runs only on the
  candidate set.
- One MinHash tier builder (Spark side): `_shingles` checkpoints the
  shingles into the one `mh_sh` view and `_signatures` the (doc_id, n,
  h0..h7) signatures over it into the one `mh_sig` view; the shingle set
  (`_SPARK_SHINGLE_SET`), hash slice (`_minhash_slice`) and band union
  (`_bands_sql`) are spelled once, for batch and streaming alike.
- SimHash is a per-doc 16-bit signature via bit-majority voting — one
  grouped aggregation.
- Embedding near-dup is capped to a fixed id range for the oracle-checked
  query; the scalable path is the LSH variant in operators/similarity.py.

Determinism: md5 is identical across engines; Jaccard/cosine are
canon-rounded (continuous values — grid-tie risk negligible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_toolbox_spark.functions import ratio
from database_toolbox_spark.operators._fold import (
    fold_cos,
    fold_dot,
    fold_l2,
    fold_norm2,
)
from database_toolbox_spark.operators._oracle import R
from database_toolbox_spark.session import (
    load_table,
    load_tables,
    materialize,
    report_sort,
    strip_order_by,
)

N_HASHES = 8  # minhash signature length
N_BANDS = 4  # LSH bands of 2 hashes each
JACCARD_THRESHOLD = 0.5

# --- shared SQL fragments (per dialect) ------------------------------------

# word 3-gram shingles, distinct per doc; Spark element_at / DuckDB [] are
# both 1-based. _SPARK_SHINGLE_SET is the set over a doc's word array `w`.
_SPARK_SHINGLE_SET = (
    "array_distinct(transform(sequence(1, size(w) - 2), "
    "i -> concat_ws('_', element_at(w, i), element_at(w, i + 1), "
    "element_at(w, i + 2))))"
)
_SPARK_SHINGLES = f"""
    WITH toks AS (SELECT /*+ REPARTITION */ doc_id, split(text, ' ') AS w
                  FROM documents),
    sh AS (
        SELECT doc_id, explode({_SPARK_SHINGLE_SET}) AS s
        FROM toks WHERE size(w) >= 3
    )
"""

_DUCK_SHINGLES = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(w) - 1),
                   i -> w[i] || '_' || w[i + 1] || '_' || w[i + 2]
               ))) AS s
        FROM toks WHERE len(w) >= 3
    )
"""


def _minhash_slice(k: int) -> str:
    """Hash function k over shingle `s`: a 32-bit slice (8 hex chars) of
    md5('<k // 4>|' || s), so each digest yields 4 independent functions
    and k=8 costs two md5 calls per shingle, not eight. Lexicographic min
    over fixed-width hex = numeric min. md5/substr/concat are identical in
    both dialects."""
    return f"substr(md5(concat('{k // 4}|', s)), {1 + 8 * (k % 4)}, 8)"


def _minhash_cols() -> str:
    """The k=8 signature columns h0..h7 of a per-doc GROUP BY over `sh`."""
    return ", ".join(
        f"min({_minhash_slice(k)}) AS h{k}" for k in range(N_HASHES)
    )


def _sig_sql(src: str = "sh", sep: str = " ") -> str:
    """The per-doc (doc_id, n, h0..h7) signature aggregate over the
    shingle relation `src`; `sep` is the whitespace before FROM."""
    return (
        f"SELECT doc_id, count(*) AS n, {_minhash_cols()}{sep}"
        f"FROM {src} GROUP BY doc_id"
    )


def _bands_sql(concat2, sig: str = "sig") -> str:
    """The LSH band relation over signature relation `sig`: one UNION ALL
    branch per band, each (doc_id, band, bkey) with bkey the band's two
    hashes joined by concat2(a, b) (the dialect's concatenation)."""
    return "\n            UNION ALL\n".join(
        f"            SELECT doc_id, {b} AS band, "
        f"{concat2(f'h{2 * b}', f'h{2 * b + 1}')} AS bkey FROM {sig}"
        for b in range(N_BANDS)
    )


def _spark_concat2(a: str, b: str) -> str:
    return f"concat({a}, {b})"


def _band_pairs_sql(shingles: str, concat2, sig_body: str | None = None) -> str:
    """Full MinHash→LSH→verify pipeline, shared shape for both dialects.

    concat2(a, b) renders 2-column concatenation in the dialect; sig_body
    replaces the inline signature aggregate (the Spark side reads the
    checkpointed signature view).
    """
    sig = sig_body or _sig_sql(sep="\n                ")
    return f"""
        {shingles},
        sig AS ({sig}),
        bands AS (
{_bands_sql(concat2)}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        ),
        cnt AS (SELECT doc_id, n FROM sig),
        common AS (
            SELECT c.doc_a, c.doc_b, count(*) AS n_common
            FROM cand c
            JOIN sh x ON x.doc_id = c.doc_a
            JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT m.doc_a, m.doc_b,
               {R("m.n_common * 1e0 / (ca.n + cb.n - m.n_common)", 6)} AS jaccard
        FROM common m
        JOIN cnt ca ON ca.doc_id = m.doc_a
        JOIN cnt cb ON cb.doc_id = m.doc_b
        WHERE m.n_common * 1e0 / (ca.n + cb.n - m.n_common) >= {JACCARD_THRESHOLD}
        ORDER BY m.doc_a, m.doc_b
    """


# --- the MinHash tier builder (Spark side) ---------------------------------
# Catalyst INLINES CTEs: a statement reading the shingle CTE k times
# explodes the corpus k times, and a banded self-join re-runs the signature
# aggregate up to 8 times. Consumers read one checkpoint of each instead
# (session.materialize, an eager localCheckpoint — ~3x less wall clock than
# cache() at sf0.1). The DuckDB oracles keep the single-statement CTE form.
_SH_VIEW, _SIG_VIEW = "mh_sh", "mh_sig"
_SH_CTE = f"WITH sh AS (SELECT * FROM {_SH_VIEW})"


def _shingles(spark: SparkSession) -> None:
    """Checkpoint the (doc_id, s) shingles of the registered `documents`
    view (a caller-substituted view is honoured) and register them as
    `mh_sh`."""
    materialize(
        spark.sql(f"{_SPARK_SHINGLES} SELECT * FROM sh")
    ).createOrReplaceTempView(_SH_VIEW)


def _signatures(spark: SparkSession) -> None:
    """`_shingles`, then the (doc_id, n, h0..h7) signatures over `mh_sh`,
    checkpointed and registered as `mh_sig`."""
    _shingles(spark)
    materialize(spark.sql(_sig_sql(_SH_VIEW))).createOrReplaceTempView(
        _SIG_VIEW
    )


def exact_dup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: corpus-level duplicate accounting."""
    load_tables(spark, sf_dir)
    return spark.sql("""
        SELECT count(*)                       AS n_docs,
               count(DISTINCT md5(text))      AS n_distinct_texts,
               count(*) - count(DISTINCT md5(text)) AS n_dup_docs
        FROM documents
    """)


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature (k=8) over distinct word-3-gram shingles."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
        {_SPARK_SHINGLES}
        SELECT doc_id, {_minhash_cols()}
        FROM sh GROUP BY doc_id ORDER BY doc_id
    """)


def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup detection: band bucketing (4 bands × 2 hashes)
    for candidates, exact Jaccard ≥ 0.5 verification on candidates only.

    The shingle explosion (signature + both verify sides) and the
    signature aggregate (4 band branches × self-join) each run once: both
    are the tier builder's checkpoints (`_signatures`)."""
    load_tables(spark, sf_dir)
    _signatures(spark)
    return spark.sql(_band_pairs_sql(
        _SH_CTE, _spark_concat2, sig_body=f"SELECT * FROM {_SIG_VIEW}"
    ))


def near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health rollup of the MinHash detector: per document source,
    how many docs participate in at least one near-dup pair — the
    contamination dashboard a curation pipeline watches per ingest feed.

    Composition, not recomputation: reuses minhash_near_dup_pairs (whose
    shingle/signature intermediates are materialized once inside it),
    distincts the pair endpoints, and LEFT-joins back to documents for the
    per-source rate. The endpoint table is pair-bounded (tiny next to the
    corpus), so the join broadcasts.

    The pair relation is MATERIALIZED here: dup_docs reads it on BOTH
    union branches (doc_a + doc_b endpoints), and unmaterialized the
    4-band self-join + verification pipeline would execute twice — the
    round-9 HITS lesson applied (measured ~2x at sf0.01)."""
    pairs = materialize(
        minhash_near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    )
    docs = load_table(spark, sf_dir, "documents")
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        docs.join(F.broadcast(dup_docs), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce("is_dup", F.lit(0))).alias("n_near_dup"),
            ratio(
                F.sum(F.coalesce("is_dup", F.lit(0)))
                * 100.0
                / F.count("*")
            ).alias("dup_rate_pct"),
        )
        .orderBy("source")
    )


DELTA_MOD, DELTA_REM = 20, 7  # "new batch" = 5% of the corpus, deterministic


def minhash_delta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection: a NEW document batch (5% of the
    corpus, `doc_id % 20 = 7`) probes the existing signature store instead
    of re-running all-pairs LSH.

    The scale shape this exercises: at 100 TB the base corpus signatures
    are a persisted table; a daily delta only (a) minhashes its own docs,
    (b) equi-joins its band keys against the full band index, (c) verifies
    exact Jaccard on candidates touching the delta. Work is O(delta), not
    O(corpus) — the only full-corpus input is the pre-built signature
    store. Signatures are per-doc (corpus-independent), so the oracle's
    full recompute restricted to delta-touching pairs is value-identical."""
    load_tables(spark, sf_dir)
    _signatures(spark)
    delta = f"doc_id % {DELTA_MOD} = {DELTA_REM}"
    return spark.sql(f"""
        WITH bands AS (
{_bands_sql(_spark_concat2, _SIG_VIEW)}
        ),
        delta_bands AS (SELECT * FROM bands WHERE {delta}),
        cand AS (
            SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                            greatest(a.doc_id, b.doc_id) AS doc_b
            FROM delta_bands a JOIN bands b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id <> b.doc_id
        ),
        common AS (
            SELECT c.doc_a, c.doc_b, count(*) AS n_common
            FROM cand c
            JOIN {_SH_VIEW} x ON x.doc_id = c.doc_a
            JOIN {_SH_VIEW} y ON y.doc_id = c.doc_b AND y.s = x.s
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT m.doc_a, m.doc_b,
               {R("m.n_common * 1e0 / (ca.n + cb.n - m.n_common)", 6)} AS jaccard
        FROM common m
        JOIN {_SIG_VIEW} ca ON ca.doc_id = m.doc_a
        JOIN {_SIG_VIEW} cb ON cb.doc_id = m.doc_b
        WHERE m.n_common * 1e0 / (ca.n + cb.n - m.n_common) >= {JACCARD_THRESHOLD}
        ORDER BY m.doc_a, m.doc_b
    """)


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-candidate n-gram Jaccard (no LSH): docs sharing ≥1 shingle,
    Jaccard ≥ 0.5. The ground-truth near-dup set that LSH approximates.
    Reads the builder's shingle checkpoint (inlined, the CTE would explode
    the corpus 3×)."""
    load_tables(spark, sf_dir)
    _shingles(spark)
    return spark.sql(f"""
        {_SH_CTE},
        cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        common AS (
            SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
            FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
            GROUP BY x.doc_id, y.doc_id
        )
        SELECT m.doc_a, m.doc_b,
               {R("m.n_common * 1e0 / (ca.n + cb.n - m.n_common)", 6)} AS jaccard
        FROM common m
        JOIN cnt ca ON ca.doc_id = m.doc_a
        JOIN cnt cb ON cb.doc_id = m.doc_b
        WHERE m.n_common * 1e0 / (ca.n + cb.n - m.n_common) >= {JACCARD_THRESHOLD}
        ORDER BY m.doc_a, m.doc_b
    """)


# Global rarity order over the builder's shingle view: every doc's
# shingles ranked by document frequency, then shingle text — the order
# both prefix filters (Jaccard and containment) take their prefixes in.
# The doc size joins in from the grouped `cnt` relation rather than a
# second (unordered-frame) window — one Window pass instead of two.
_RARITY_CTES = f"""
        {_SH_CTE},
        df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
        cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        ordered AS (
            SELECT sh.doc_id, sh.s,
                   row_number() OVER (PARTITION BY sh.doc_id
                                      ORDER BY df.df, sh.s) AS r
            FROM sh JOIN df ON df.s = sh.s
        )"""

# Candidate-generation CTEs for AllPairs prefix filtering. Shared with the
# selectivity test in tests/test_scale_stress.py, which counts `cand`
# directly.
_PREFIX_CAND_CTES = f"""{_RARITY_CTES},
        prefix AS (
            SELECT o.doc_id, o.s, c.n
            FROM ordered o JOIN cnt c ON c.doc_id = o.doc_id
            WHERE o.r <= c.n - CAST(ceil({JACCARD_THRESHOLD} * c.n)
                                    AS BIGINT) + 1
        ),
        cand AS (
            -- AllPairs LENGTH filter alongside the prefix condition:
            -- J <= min(na, nb) / max(na, nb), so J >= t forces
            -- min >= t * max — pairs failing it cannot reach the
            -- threshold and would only burn a verify (candidates
            -- 409k -> 310k at sf0.1; result set provably unchanged,
            -- test_prefix_filter_jaccard_exact_and_selective pins it)
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM prefix a JOIN prefix b
              ON a.s = b.s AND a.doc_id < b.doc_id
             AND a.n >= {JACCARD_THRESHOLD} * b.n
             AND b.n >= {JACCARD_THRESHOLD} * a.n
        )"""


def jaccard_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard ≥ 0.5 similarity join via AllPairs prefix
    filtering (Bayardo et al. WWW'07 / Chaudhuri et al. ICDE'06): order
    every doc's shingles by global rarity (document frequency, then
    shingle text) and keep only each doc's first n - ceil(τ·n) + 1
    shingles as its *prefix*. Any pair with J ≥ τ must share a shingle
    inside both prefixes under that common order, so candidate
    generation joins prefix postings only — dominated by RARE shingles
    (short posting lists) instead of every shared shingle. Same answer
    as `ngram_jaccard_pairs` (identical oracle); this is the exact
    companion to MinHash at 100 TB: subquadratic candidates without
    giving up exactness. Verification joins each candidate pair to two
    per-doc shingle-HASH arrays (xxhash64 — integer compares measured
    2.4× cheaper than string arrays; one grouped collect, doc-count-
    sized = broadcastable) and computes |∩| via array_intersect — no
    row re-explosion of the shingle table per candidate. The ordering
    window is partitioned by doc_id (bounded by doc length — never a
    global sort).

    Exactness caveat: verification intersects xxhash64(shingle) arrays,
    so "exact" is modulo 64-bit hash collisions between DISTINCT
    shingles of the same document pair (probability ≈ n²/2⁶⁵ per pair —
    negligible at any shingle count a document holds, but stated here
    because the oracle intersects the string shingles directly)."""
    load_tables(spark, sf_dir)
    _shingles(spark)
    # report_sort instead of a trailing ORDER BY: the verify subtree is
    # broadcast-join-heavy with no exchange below the sort, so the range
    # sampler re-ran the whole candidate+intersect pipeline per action
    # (measured 3.6 s -> 2.2 s at sf0.1); the thresholded pair list is a
    # bounded report
    return report_sort(spark.sql(f"""
        {_PREFIX_CAND_CTES},
        hs AS (SELECT doc_id, xxhash64(s) AS h FROM sh),
        arrs AS (
            SELECT doc_id, collect_list(h) AS ss, count(*) AS n
            FROM hs GROUP BY doc_id
        ),
        common AS (
            SELECT c.doc_a, c.doc_b,
                   size(array_intersect(a.ss, b.ss)) AS n_common,
                   a.n AS na, b.n AS nb
            FROM cand c
            JOIN arrs a ON a.doc_id = c.doc_a
            JOIN arrs b ON b.doc_id = c.doc_b
        )
        SELECT doc_a, doc_b,
               {R("n_common * 1e0 / (na + nb - n_common)", 6)} AS jaccard
        FROM common
        WHERE n_common * 1e0 / (na + nb - n_common) >= {JACCARD_THRESHOLD}
    """), "doc_a", "doc_b")


def _simhash_sql(tokens_expr: str, x_expr: str, n_bits: int = 16) -> str:
    """SimHash: bit-majority over per-token md5 bits. Shared shape; x_expr
    converts the first n_bits/4 md5 hex chars to an int in the dialect."""
    bit_sums = ", ".join(
        f"sum(CASE WHEN (x >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(n_bits)
    )
    combine = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(n_bits)
    )
    return f"""
        WITH toks AS (SELECT doc_id, {tokens_expr} AS t FROM documents),
        h AS (SELECT doc_id, {x_expr} AS x FROM toks),
        bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
        SELECT doc_id, CAST({combine} AS BIGINT) AS simhash
        FROM bits ORDER BY doc_id
    """


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 16-bit SimHash over distinct word tokens."""
    load_tables(spark, sf_dir)
    return spark.sql(
        _simhash_sql(
            "explode(array_distinct(split(text, ' ')))",
            "CAST(conv(substring(md5(t), 1, 4), 16, 10) AS INT)",
        )
    )


HAMMING_MAX = 3
PAIR_BITS = 16  # NOTE: on this synthetic small-vocabulary corpus the
# bit-majority saturates — background pairs land at Hamming 2-7 even at 32
# bits, overlapping the planted near-dups (0-9), so no width separates
# them and wider hashes only break recall. Real corpora (large vocab,
# heavy-tailed token stats) separate cleanly; 16 bits matches
# simhash_fingerprints and keeps the planted-dup recall floor.

# Scale path: 60-bit signature, 4 bands × 15 bits = 32,768 buckets/band, so
# band-join candidate generation stays ~linear in corpus size instead of the
# Θ(n²/16) the 16-bit demo width degrades to. 60 (not 64) because the
# signature is built from a hex prefix of md5 and must stay inside SIGNED
# BIGINT in BOTH dialects — 16 hex chars would overflow DuckDB's 0x-cast and
# Spark's conv() result for high md5s. Since round 3 the DEFAULT-named
# operator `simhash_near_dup_pairs` IS the wide path (the shape you run at
# 100 TB); the corpus-tuned 16-bit spelling is retained as
# `simhash_near_dup_pairs_narrow` for the small-vocab synthetic oracle and
# its recall floor.
WIDE_BITS = 60
WIDE_BANDS = 4


def _spark_xhash(n_bits: int = PAIR_BITS) -> str:
    """Token → n_bits-bit int from the md5 hex prefix (Spark dialect)."""
    return f"CAST(conv(substring(md5(t), 1, {n_bits // 4}), 16, 10) AS BIGINT)"


def _duck_xhash(n_bits: int = PAIR_BITS) -> str:
    """Token → n_bits-bit int from the md5 hex prefix (DuckDB dialect)."""
    return f"CAST(concat('0x', substr(md5(t), 1, {n_bits // 4})) AS BIGINT)"


def _simhash_sig_body(tokens_expr: str, x_expr: str, n_bits: int = 16) -> str:
    """The per-doc simhash aggregate (the sig CTE body), reusable either
    inline (oracle) or materialized (Spark)."""
    return (
        _simhash_sql(tokens_expr, x_expr, n_bits)
        .strip()
        .removesuffix("ORDER BY doc_id")
        .strip()
    )


def _simhash_pairs_sql(
    tokens_expr: str,
    x_expr: str,
    xor_expr,
    sig_body: str | None = None,
    n_bits: int = PAIR_BITS,
    n_bands: int = 4,
    hamming_max: int = HAMMING_MAX,
    candidates_only: bool = False,
) -> str:
    """SimHash near-dup pairs, scalably: by pigeonhole, Hamming(a,b) ≤
    n_bands - 1 over n_bits means at least one of the n_bands
    (n_bits/n_bands)-bit bands is equal — so candidates come from an
    equi-join on (band, chunk), then the exact Hamming distance verifies.
    xor_expr(a, b) renders bitwise xor (DuckDB's ^ is exponentiation).
    sig_body overrides the sig CTE body (e.g. a SELECT from a materialized
    view). candidates_only=True emits the pre-verification candidate count
    (the scale-shape probe the linearity stress test measures)."""
    assert n_bits % n_bands == 0 and hamming_max < n_bands
    band_bits = n_bits // n_bands
    mask = (1 << band_bits) - 1
    sim = sig_body or _simhash_sig_body(tokens_expr, x_expr, n_bits)
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"CAST((simhash >> {band_bits * b}) & {mask} AS BIGINT) AS nib FROM sig"
        for b in range(n_bands)
    )
    tail = (
        "SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand"
        if candidates_only
        else f"""
        SELECT DISTINCT doc_a, doc_b,
               CAST(bit_count({xor_expr("sim_a", "sim_b")}) AS INT) AS hamming
        FROM cand
        WHERE bit_count({xor_expr("sim_a", "sim_b")}) <= {hamming_max}
    """
    )
    return f"""
        WITH sig AS (
            {sim}
        ),
        bands AS (
            {bands}
        ),
        cand AS (
            SELECT a.doc_id AS doc_a, a.simhash AS sim_a,
                   b.doc_id AS doc_b, b.simhash AS sim_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
        )
        {tail}
    """


def simhash_near_dup_pairs_narrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection, 16-bit demo width: banded candidates +
    exact Hamming ≤ 3. Retained for the small-vocab synthetic corpus where
    wider hashes break recall (see PAIR_BITS note); the default-named
    `simhash_near_dup_pairs` is the 60-bit wide scale path.

    The per-doc simhash aggregate is materialized once (session.materialize)
    — CTE inlining would otherwise recompute it per band branch and join
    side (~8×)."""
    load_tables(spark, sf_dir)
    tokens = "explode(array_distinct(split(text, ' ')))"
    xhash = "CAST(conv(substring(md5(t), 1, 4), 16, 10) AS INT)"
    materialize(
        spark.sql(_simhash_sig_body(tokens, xhash, PAIR_BITS))
    ).createOrReplaceTempView("sh_sig_mat")
    return spark.sql(_simhash_pairs_sql(
        tokens, xhash, lambda a, b: f"({a} ^ {b})",
        sig_body="SELECT * FROM sh_sig_mat",
    ))


def simhash_band_candidate_count(
    spark: SparkSession, n_bits: int = WIDE_BITS, n_bands: int = WIDE_BANDS
) -> int:
    """Pre-verification band-join candidate count over the CURRENT
    `documents` view — the scale-shape probe: candidate volume, not output
    rows, is what decides whether a banding width survives 100×
    (tests/test_scale_stress.py asserts wide ≫ narrow selectivity)."""
    tokens = "explode(array_distinct(split(text, ' ')))"
    row = spark.sql(_simhash_pairs_sql(
        tokens, _spark_xhash(n_bits), lambda a, b: f"({a} ^ {b})",
        n_bits=n_bits, n_bands=n_bands, hamming_max=min(n_bands - 1, 1),
        candidates_only=True,
    )).collect()[0]  # guard-exempt: bounded driver fetch (1 count row)
    return int(row.n_candidates)


def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — DEFAULT binding, the WIDE scale path:
    60-bit signature, 4 × 15-bit bands → 32,768 buckets per band, so
    candidate generation is ~linear in corpus size (vs Θ(n²/16) for the
    16-bit demo width — see WIDE_BITS note; linearity asserted under
    replication in tests/test_scale_stress.py). On this small-vocab
    synthetic corpus the wide hash saturates (see PAIR_BITS note) so
    hamming≤1 keeps the output to genuinely-identical signatures; on a real
    corpus this is the exact operator you run at 100 TB. Also registered as
    `simhash_near_dup_pairs_wide` for bench/round-over-round continuity."""
    load_tables(spark, sf_dir)
    tokens = "explode(array_distinct(split(text, ' ')))"
    materialize(
        spark.sql(_simhash_sig_body(tokens, _spark_xhash(WIDE_BITS), WIDE_BITS))
    ).createOrReplaceTempView("sh_sig_wide_mat")
    return spark.sql(_simhash_pairs_sql(
        tokens, _spark_xhash(WIDE_BITS), lambda a, b: f"({a} ^ {b})",
        sig_body="SELECT * FROM sh_sig_wide_mat",
        n_bits=WIDE_BITS, n_bands=WIDE_BANDS, hamming_max=1,
    ))


# cosine of a v-row pair with both squared norms precomputed
_PAIR_COS = fold_cos("a.embedding", "b.embedding", "a.norm2", "b.norm2")


def embedding_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: top-20 most-similar vector pairs within a
    fixed id range (bounded all-pairs for the oracle; the scalable LSH path
    lives in operators/similarity.py). Exact double-precision fold so both
    engines sum in the same order."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
        WITH v AS (
            SELECT vec_id, embedding, {fold_norm2("embedding")} AS norm2
            FROM embeddings WHERE vec_id < 300
        ),
        pairs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   {_PAIR_COS} AS cos
            FROM v a JOIN v b ON a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, {R("cos", 6)} AS cos_sim
        FROM pairs
        ORDER BY cos_sim DESC, vec_a, vec_b
        LIMIT 20
    """)


def dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters = connected components over the verified LSH pair
    graph, plus the dedup decision (keep the min doc, drop the rest).

    Spark 4 recursion supports UNION ALL only, so the closure is a
    depth-capped walk (near-dup clusters have tiny diameters; the DuckDB
    oracle computes the exact UNION-distinct closure, so any
    under-propagation would hash-mismatch).

    Cost note: each recursion step schedules a full Spark job (~1.5s fixed
    overhead locally), dominating the tiny data. A pointer-doubling label
    propagation would halve the step count at the cost of leaving the
    native recursive-CTE surface; at real scale the per-step overhead
    amortizes against actual work, so the declarative form is kept."""
    # materialize: the recursive walk references the pair view in EVERY
    # iteration and on both union branches — unmaterialized, each step
    # re-derives the whole MinHash pipeline
    # coalesce(1): the verified pair graph is hundreds of rows — every
    # recursion step otherwise schedules full-width shuffle stages whose
    # task overhead dwarfs the work
    pairs = materialize(
        minhash_near_dup_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .coalesce(1)
    )
    pairs.createOrReplaceTempView("near_dup_pairs_v")
    return spark.sql("""
        WITH RECURSIVE walk(node, member, depth) AS (
            SELECT node, node, 0 FROM (
                SELECT doc_a AS node FROM near_dup_pairs_v
                UNION SELECT doc_b FROM near_dup_pairs_v
            )
            UNION ALL
            SELECT w.node, e.dst, w.depth + 1
            FROM walk w
            JOIN (
                SELECT doc_a AS src, doc_b AS dst FROM near_dup_pairs_v
                UNION ALL
                SELECT doc_b, doc_a FROM near_dup_pairs_v
            ) e ON e.src = w.member
            WHERE w.depth < 6
        ),
        rep AS (
            SELECT node, min(member) AS component
            FROM walk GROUP BY node
        )
        SELECT component,
               count(*) AS cluster_size,
               min(node) AS keep_doc,
               count(*) - 1 AS n_dropped
        FROM rep GROUP BY component ORDER BY component
    """)


CC_MAX_ITERS = 16  # safety cap; pointer jumping converges in O(log diameter)


def dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified LSH pair graph by min-label
    propagation WITH pointer jumping — the 100 TB shape (alternating-star
    family: each round every node takes the minimum label in its closed
    neighborhood, then labels jump one indirection, so convergence is
    O(log diameter) rounds of pure shuffle-parallel joins; no recursive
    transitive closure, no depth assumption). The driver loop carries only
    a scalar convergence count per round. Same output contract and DuckDB
    oracle as dup_clusters — the two formulations must agree exactly."""
    pairs = materialize(
        minhash_near_dup_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .coalesce(1)  # verified pair graph is tiny locally; see dup_clusters
    )
    labels = connected_components(pairs)
    return (
        labels.groupBy(F.col("label").alias("component"))
        .agg(
            F.count("*").alias("cluster_size"),
            F.min("node").alias("keep_doc"),
            (F.count("*") - 1).alias("n_dropped"),
        )
        .orderBy("component")
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """(node, label) for every node of the undirected pair graph
    (columns doc_a, doc_b), label = min node id of its component.

    Min-label propagation with pointer jumping; each round is two
    shuffle-parallel joins plus one scalar convergence count, and rounds
    are O(log diameter) — no depth cap, no transitive-closure blowup
    (tests/test_scale_stress.py drives a 300-node chain through it)."""
    edges = pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionByName(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    labels = materialize(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(CC_MAX_ITERS):
        # neighborhood min: l'(v) = min(l(v), min_{u∈N(v)} l(u))
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("dlabel")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dlabel").alias("nmin"))
            .select(F.col("src").alias("node"), "nmin")
        )
        stepped = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
        )
        # pointer jump: l''(v) = l'(l'(v)) — halves chain lengths per round
        jumped = materialize(
            stepped.join(
                stepped.select(
                    F.col("node").alias("pnode"), F.col("label").alias("plabel")
                ),
                stepped.label == F.col("pnode"),
                "left",
            ).select(
                "node", F.coalesce("plabel", "label").alias("label")
            )
        )
        changed = (
            jumped.join(
                labels.select("node", F.col("label").alias("old_label")), "node"
            )
            .filter(F.col("label") != F.col("old_label"))
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    else:
        # pointer jumping halves chain lengths per round, so CC_MAX_ITERS
        # rounds close any diameter ≤ 2^CC_MAX_ITERS; exhausting the loop
        # with changes still in flight means the labels are NOT final —
        # fail loudly rather than return wrong components silently
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ITERS} "
            f"rounds ({changed} labels still changing); graph diameter "
            f"exceeds 2^{CC_MAX_ITERS} — raise CC_MAX_ITERS"
        )
    return labels


def _fuzzy_pairs_sql(noun_expr: str) -> str:
    """Blocked fuzzy matching (entity-resolution shape): block on a cheap
    equi-join key (the noun token), verify candidates with edit distance —
    never an all-pairs cross join. noun_expr differs per dialect (Spark
    split() is 0-indexed, DuckDB string_split 1-indexed)."""
    return f"""
        WITH names AS (
            SELECT p_name, {noun_expr} AS noun, count(*) AS n
            FROM part GROUP BY p_name, {noun_expr}
        )
        SELECT a.noun AS block_token, a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
               a.n * b.n AS n_pairs
        FROM names a JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 2
        ORDER BY block_token, name_a, name_b
    """


def _contamination_sql(shingles: str) -> str:
    """Benchmark decontamination: fraction of each training doc's distinct
    3-gram shingles that appear in the benchmark source's shingle set
    (src0 plays the eval set). The shingle CTE differs per dialect."""
    return f"""
        {shingles},
        bench AS (
            SELECT DISTINCT sh.s
            FROM sh JOIN documents d ON sh.doc_id = d.doc_id
            WHERE d.source = 'src0'
        ),
        cand AS (
            SELECT sh.doc_id,
                   count(*) AS n_shingles,
                   count(b.s) AS n_hits
            FROM sh
            JOIN documents d ON sh.doc_id = d.doc_id AND d.source <> 'src0'
            LEFT JOIN bench b ON sh.s = b.s
            GROUP BY sh.doc_id
        )
        SELECT doc_id, n_shingles, n_hits,
               floor(n_hits * 1e4 / n_shingles + 0.501e0) / 1e4
                   AS contamination
        FROM cand
        WHERE n_hits > 0
        ORDER BY doc_id
    """


def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: per training doc, the n-gram overlap
    fraction against the benchmark source — the pre-training hygiene step.
    At scale the benchmark shingle set is tiny (eval sets are thousands of
    docs) and broadcasts; the train side streams through one equi-join on
    the shingle key.

    Spark spelling carries `source` through the shingle CTE so each of
    its two inlined references pushes its slice filter (src0 vs rest)
    INTO the parquet scan — the corpus is shingled once in total, split
    across two disjoint slice scans, and the join back to documents
    disappears. The oracle keeps the join-filtered spelling."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
        WITH toks AS (
            SELECT /*+ REPARTITION */ doc_id, source, split(text, ' ') AS w
            FROM documents
        ),
        sh AS (
            SELECT doc_id, source, explode({_SPARK_SHINGLE_SET}) AS s
            FROM toks WHERE size(w) >= 3
        ),
        bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
        cand AS (
            SELECT sh.doc_id,
                   count(*) AS n_shingles,
                   count(b.s) AS n_hits
            FROM sh LEFT JOIN bench b ON sh.s = b.s
            WHERE sh.source <> 'src0'
            GROUP BY sh.doc_id
        )
        SELECT doc_id, n_shingles, n_hits,
               floor(n_hits * 1e4 / n_shingles + 0.501e0) / 1e4
                   AS contamination
        FROM cand
        WHERE n_hits > 0
        ORDER BY doc_id
    """)


def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy duplicate names: token-blocked candidates + levenshtein ≤ 2
    verify, with the count of part pairs each name pair collapses."""
    load_tables(spark, sf_dir)
    return spark.sql(_fuzzy_pairs_sql("split(p_name, ' ')[1]"))


def _segment_dup_sql(segs_cte: str) -> str:
    """Shared tail: per-doc fraction of 5-token segments that also occur in
    at least one OTHER document (cross-doc exact span duplication)."""
    return f"""
        {segs_cte},
        freq AS (
            SELECT seg_hash, count(DISTINCT doc_id) AS ndocs
            FROM segs GROUP BY seg_hash
        )
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_segments,
               CAST(sum(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared_segments,
               {R("sum(CASE WHEN f.ndocs > 1 THEN 1e0 ELSE 0e0 END)"
                  " / count(*)", 4)} AS shared_fraction
        FROM segs s JOIN freq f ON s.seg_hash = f.seg_hash
        GROUP BY s.doc_id
        ORDER BY s.doc_id
    """


_SPARK_SEGS = """
        WITH toks AS (
            SELECT doc_id, split(text, ' ') AS w FROM documents
            WHERE size(split(text, ' ')) >= 5
        ),
        segs AS (
            SELECT doc_id,
                   md5(array_join(slice(w, (i - 1) * 5 + 1, 5), ' '))
                       AS seg_hash
            FROM toks
            LATERAL VIEW explode(sequence(1, size(w) DIV 5)) t AS i
        )
"""

_DUCK_SEGS = """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
            WHERE len(string_split(text, ' ')) >= 5
        ),
        segs AS (
            SELECT doc_id,
                   md5(array_to_string(w[(u.i - 1) * 5 + 1 : (u.i - 1) * 5 + 5],
                                       ' ')) AS seg_hash
            FROM toks, unnest(range(1, len(w) // 5 + 1)) AS u(i)
        )
"""


def repeated_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc exact span duplication (the "dedup training data at the
    substring level" signal of Lee et al. 2022, arXiv:2107.06499): docs are
    cut into non-overlapping 5-token segments, each md5-hashed, and every
    doc reports what fraction of its segments also appear verbatim in some
    other document.

    Scale shape: segmentation is a pure projection (codegen, no UDF); the
    only shuffles are the groupBy on seg_hash (combiner-friendly) and the
    hash-equi-join back — both partition on the 16-byte digest, which is
    uniformly distributed by construction, so no skew. At 100 TB the freq
    table is the corpus's segment vocabulary; a bloom/semi-join
    pre-filter on ndocs>1 hashes would cut the join width further."""
    load_tables(spark, sf_dir)
    return spark.sql(_segment_dup_sql(_SPARK_SEGS))


_WIDE_PAIRS_ORACLE = _simhash_pairs_sql(
    "unnest(list_distinct(string_split(text, ' ')))",
    _duck_xhash(WIDE_BITS),
    lambda a, b: f"xor({a}, {b})",
    n_bits=WIDE_BITS, n_bands=WIDE_BANDS, hamming_max=1,
)

# DuckDB oracle for the UNREGISTERED narrow demo — consumed only by
# tests/test_round5_ops.py, which pins the demo's cross-engine parity now
# that the registry no longer carries it.
SIMHASH_NARROW_ORACLE = _simhash_pairs_sql(
    "unnest(list_distinct(string_split(text, ' ')))",
    "CAST(concat('0x', substr(md5(t), 1, 4)) AS INTEGER)",
    lambda a, b: f"xor({a}, {b})",
)

QUERIES = {
    "exact_dup_summary": exact_dup_summary,
    "repeated_segment_stats": repeated_segment_stats,
    "benchmark_contamination": benchmark_contamination,
    "fuzzy_name_pairs": fuzzy_name_pairs,
    "dup_clusters": dup_clusters,
    "dup_clusters_star": dup_clusters_star,
    "minhash_signatures": minhash_signatures,
    "minhash_near_dup_pairs": minhash_near_dup_pairs,
    "near_dup_rate_by_source": near_dup_rate_by_source,
    "minhash_delta_pairs": minhash_delta_pairs,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "jaccard_prefix_filter_pairs": jaccard_prefix_filter_pairs,
    "simhash_fingerprints": simhash_fingerprints,
    "simhash_near_dup_pairs": simhash_near_dup_pairs,
    # NOTE: `simhash_near_dup_pairs_narrow` (16-bit demo width) is
    # deliberately NOT registered: its banded candidate volume grows
    # super-linearly on large corpora (measured 21x time at 10x rows in
    # SCALING.md) — the registry carries only 100x-safe plans. The narrow
    # recall demo lives on as a direct-call test
    # (tests/test_quality.py::test_simhash_narrow_recall) and its
    # cross-engine parity is pinned by tests/test_round5_ops.py.
    "simhash_near_dup_pairs_wide": simhash_near_dup_pairs,
    "embedding_topk_pairs": embedding_topk_pairs,
}

# Exact all-pairs shingle-Jaccard ground truth — shared by the naive
# blocked operator and the AllPairs prefix-filtered one (same semantics,
# different candidate-generation strategy on the Spark side).
_NGRAM_JACCARD_ORACLE = f"""
        {_DUCK_SHINGLES},
        cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        common AS (
            SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
            FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
            GROUP BY x.doc_id, y.doc_id
        )
        SELECT m.doc_a, m.doc_b,
               {R("m.n_common * 1e0 / (ca.n + cb.n - m.n_common)", 6)} AS jaccard
        FROM common m
        JOIN cnt ca ON ca.doc_id = m.doc_a
        JOIN cnt cb ON cb.doc_id = m.doc_b
        WHERE m.n_common * 1e0 / (ca.n + cb.n - m.n_common) >= {JACCARD_THRESHOLD}
        ORDER BY m.doc_a, m.doc_b
    """

ORACLE = {
    "repeated_segment_stats": _segment_dup_sql(_DUCK_SEGS),
    "near_dup_rate_by_source": f"""
        WITH pairs AS (
            {_band_pairs_sql(_DUCK_SHINGLES, lambda a, b: f"({a} || {b})")}
        ),
        dup_docs AS (
            SELECT doc_a AS doc_id FROM pairs
            UNION
            SELECT doc_b AS doc_id FROM pairs
        )
        SELECT d.source,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_near_dup,
               {R("sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END)"
                  " * 1e2 / count(*)", 4)} AS dup_rate_pct
        FROM documents d LEFT JOIN dup_docs dd ON d.doc_id = dd.doc_id
        GROUP BY d.source
        ORDER BY d.source
    """,
    "dup_clusters": f"""
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
        )
        SELECT component,
               count(*) AS cluster_size,
               min(node) AS keep_doc,
               count(*) - 1 AS n_dropped
        FROM rep GROUP BY component ORDER BY component
    """,
    "exact_dup_summary": """
        SELECT count(*)                              AS n_docs,
               count(DISTINCT md5(text))             AS n_distinct_texts,
               count(*) - count(DISTINCT md5(text))  AS n_dup_docs
        FROM documents
    """,
    "fuzzy_name_pairs": _fuzzy_pairs_sql("string_split(p_name, ' ')[2]"),
    "benchmark_contamination": _contamination_sql(_DUCK_SHINGLES),
    "minhash_signatures": f"""
        {_DUCK_SHINGLES}
        SELECT doc_id, {_minhash_cols()}
        FROM sh GROUP BY doc_id ORDER BY doc_id
    """,
    "minhash_near_dup_pairs": _band_pairs_sql(
        _DUCK_SHINGLES, lambda a, b: f"({a} || {b})"
    ),
    "minhash_delta_pairs": f"""
        {_DUCK_SHINGLES},
        sig AS (SELECT doc_id, count(*) AS n, {_minhash_cols()}
                FROM sh GROUP BY doc_id),
        bands AS (
            {" UNION ALL ".join(
                f"SELECT doc_id, {b} AS band, concat(h{2*b}, h{2*b+1}) AS bkey FROM sig"
                for b in range(N_BANDS)
            )}
        ),
        delta_bands AS (SELECT * FROM bands WHERE doc_id % {DELTA_MOD} = {DELTA_REM}),
        cand AS (
            SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                            greatest(a.doc_id, b.doc_id) AS doc_b
            FROM delta_bands a JOIN bands b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id <> b.doc_id
        ),
        common AS (
            SELECT c.doc_a, c.doc_b, count(*) AS n_common
            FROM cand c
            JOIN sh x ON x.doc_id = c.doc_a
            JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT m.doc_a, m.doc_b,
               {R("m.n_common * 1e0 / (ca.n + cb.n - m.n_common)", 6)} AS jaccard
        FROM common m
        JOIN sig ca ON ca.doc_id = m.doc_a
        JOIN sig cb ON cb.doc_id = m.doc_b
        WHERE m.n_common * 1e0 / (ca.n + cb.n - m.n_common) >= {JACCARD_THRESHOLD}
        ORDER BY m.doc_a, m.doc_b
    """,
    "ngram_jaccard_pairs": _NGRAM_JACCARD_ORACLE,
    # Prefix filtering is a candidate-pruning strategy, not a semantics
    # change: the exact all-pairs ground truth is the oracle for both.
    "jaccard_prefix_filter_pairs": _NGRAM_JACCARD_ORACLE,
    "simhash_fingerprints": _simhash_sql(
        "unnest(list_distinct(string_split(text, ' ')))",
        "CAST(concat('0x', substr(md5(t), 1, 4)) AS INTEGER)",
    ),
    # Default binding = wide scale path (round-3 promotion); the old wide
    # name keeps the identical oracle for round-over-round continuity.
    "simhash_near_dup_pairs": _WIDE_PAIRS_ORACLE,
    "simhash_near_dup_pairs_wide": _WIDE_PAIRS_ORACLE,
    "embedding_topk_pairs": f"""
        WITH v AS (
            SELECT vec_id, embedding,
                   list_aggregate(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS norm2
            FROM embeddings WHERE vec_id < 300
        ),
        pairs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   list_aggregate(list_transform(range(1, len(a.embedding) + 1),
                       i -> CAST(a.embedding[i] AS DOUBLE)
                            * CAST(b.embedding[i] AS DOUBLE)), 'sum')
                       / sqrt(a.norm2 * b.norm2) AS cos
            FROM v a JOIN v b ON a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, {R("cos", 6)} AS cos_sim
        FROM pairs
        ORDER BY cos_sim DESC, vec_a, vec_b
        LIMIT 20
    """,
}

# Same ground truth for both connected-components formulations: the
# recursive-CTE closure (dup_clusters) and the star/pointer-jumping loop
# must agree exactly.
ORACLE["dup_clusters_star"] = ORACLE["dup_clusters"]


EMB_CLUSTER_COS = 0.4  # fixture-tuned: the synthetic embeddings plant no
# true near-dup vectors in the checked range (max pair cosine ≈ 0.46), so
# the demo threshold captures the top tail; on a real corpus this is 0.95+
# and the pair source is the LSH/IVF candidate join (similarity.py), not
# bounded all-pairs.

_EMB_PAIR_RANGE = 300


def _emb_pairs_spark() -> str:
    return f"""
        WITH v AS (
            SELECT vec_id, embedding, {fold_norm2("embedding")} AS norm2
            FROM embeddings WHERE vec_id < {_EMB_PAIR_RANGE}
        )
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE {_PAIR_COS} >= {EMB_CLUSTER_COS}
    """


def embedding_similarity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-similarity clusters: cosine-threshold pair graph →
    connected components (star/pointer-jumping loop) → per-cluster dedup
    decision. The full semantic-dedup shape: at 100 TB the pair source is
    the ANN candidate join and the CC loop is unchanged. Exact
    double-precision folds keep pair membership bit-identical to the
    DuckDB oracle's recursive-closure ground truth."""
    load_tables(spark, sf_dir)
    pairs = materialize(spark.sql(_emb_pairs_spark()).coalesce(1))
    labels = connected_components(pairs)
    return (
        labels.groupBy(F.col("label").alias("component"))
        .agg(
            F.count("*").alias("cluster_size"),
            F.min("node").alias("keep_vec"),
            (F.count("*") - 1).alias("n_dropped"),
        )
        .orderBy("component")
    )


QUERIES["embedding_similarity_clusters"] = embedding_similarity_clusters

ORACLE["embedding_similarity_clusters"] = f"""
    WITH RECURSIVE v AS (
        SELECT vec_id, embedding,
               list_aggregate(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS norm2
        FROM embeddings WHERE vec_id < {_EMB_PAIR_RANGE}
    ),
    pairs AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE list_aggregate(list_transform(range(1, len(a.embedding) + 1),
                  i -> CAST(a.embedding[i] AS DOUBLE)
                       * CAST(b.embedding[i] AS DOUBLE)), 'sum')
              / sqrt(a.norm2 * b.norm2) >= {EMB_CLUSTER_COS}
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
    rep AS (SELECT node, min(member) AS component FROM reach GROUP BY node)
    SELECT component,
           count(*) AS cluster_size,
           min(node) AS keep_vec,
           count(*) - 1 AS n_dropped
    FROM rep GROUP BY component ORDER BY component
"""


SEMDEDUP_CELLS = 16  # coarse-quantizer cell FLOOR (SemDeDup's k)
SEMDEDUP_TARGET_CELL = 125  # target vectors per cell: k = max(16, n/125),
# so k GROWS with the corpus and the within-cell (n/k)^2 work stays
# constant per cell — the property that makes SemDeDup linear at 100 TB
# (measured: fixed k=16 went 25x runtime on 10x data in scaling_sf1.py;
# scaled k holds it linear). At the oracle test scales (<= 2000 vectors)
# the formula still yields k=16, so registry outputs are unchanged.


def _semdedup_assign_sql(norm2, l2, argmin: bool = False) -> str:
    """SemDeDup phase 1 — the per-row cell assignment relation
    m(cell, vec_id, embedding, norm2). Assignment ranks on a
    1e-6-floored distance (the kmeans/IVF guard) so libm ulps can't
    flip cell membership. argmin=True (the Spark side) spells the
    assignment as a grouped struct-argmin — same (floored distance,
    cell) order, so the SAME cell wins, but only per-vector partials
    shuffle instead of the sorted |vectors| x |cells| product (guide
    §2.3/2.4); the oracle keeps the window spelling."""
    if argmin:
        assigned = f"""
            SELECT v.vec_id,
                   (min(named_struct(
                       'd', floor({l2("v.embedding", "c.cemb")}
                                  * 1000000e0) / 1000000e0,
                       'cell', c.cell))).cell AS cell
            FROM v CROSS JOIN cents c
            GROUP BY v.vec_id
        """
    else:
        assigned = f"""
            SELECT vec_id, cell FROM (
                SELECT v.vec_id, c.cell,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY floor({l2("v.embedding", "c.cemb")}
                                          * 1000000e0) / 1000000e0, c.cell
                       ) AS rn
                FROM v CROSS JOIN cents c
            ) r WHERE rn = 1
        """
    return f"""
        WITH k AS (
            SELECT greatest({SEMDEDUP_CELLS},
                            CAST(ceil(count(*) * 1e0
                                      / {SEMDEDUP_TARGET_CELL}) AS BIGINT))
                       AS n_cells
            FROM embeddings
        ),
        cents AS (
            SELECT vec_id AS cell, embedding AS cemb FROM embeddings
            WHERE vec_id < (SELECT n_cells FROM k)
        ),
        v AS (
            SELECT {"/*+ REPARTITION */ " if argmin else ""}vec_id,
                   embedding, {norm2("embedding")} AS norm2
            FROM embeddings
        ),
        assigned AS ({assigned})
        SELECT a.cell, v.vec_id, v.embedding, v.norm2
        FROM v JOIN assigned a ON a.vec_id = v.vec_id
    """


def _semdedup_report_sql(dot, m_src: str) -> str:
    """SemDeDup phase 2 — within-cell cosine drops + per-cell summary
    over an assignment relation m(cell, vec_id, embedding, norm2).
    The Spark operator feeds a MATERIALIZED m (it is referenced three
    times — self-joined for pairs and aggregated for cell sizes; CTE
    inlining would recompute the norm/assignment pipeline each time)."""
    return f"""
        WITH m AS ({m_src}),
        drops AS (
            SELECT DISTINCT b.cell, b.vec_id
            FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE {dot("a.embedding", "b.embedding")}
                  / sqrt(a.norm2 * b.norm2) >= {EMB_CLUSTER_COS}
        ),
        cells AS (SELECT cell, count(*) AS n_vectors FROM m
                  GROUP BY cell),
        dcount AS (SELECT cell, count(*) AS n_drops FROM drops GROUP BY cell)
        SELECT c.cell, c.n_vectors,
               coalesce(d.n_drops, 0) AS n_drop_candidates,
               {R("(c.n_vectors - coalesce(d.n_drops, 0)) * 1e0"
                  " / c.n_vectors", 4)} AS keep_rate
        FROM cells c LEFT JOIN dcount d ON d.cell = c.cell
        ORDER BY c.cell
    """


def semdedup_drop_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup: coarse k-means cells bound the quadratic,
    then within-cell cosine >= τ against ANY earlier vector (kept or
    itself dropped) marks a drop CANDIDATE — deliberately a conservative
    SUPERSET of the sequential greedy keep-first drops (which would need
    an order-dependent chain; a candidate similar only to other dropped
    candidates may survive that pass). The cell's lowest vec_id can
    never be a candidate, so every cell keeps ≥ 1 vector; the report is
    the pre-pass bound a curation pipeline sizes its exact greedy pass
    with.

    Scale shape: the all-pairs step is CELL-LOCAL — an equi-join on the
    cell id whose per-cell cost is (n/k)², tuned by scaling k with
    corpus size (SemDeDup's own design); the cell assignment is one
    broadcast of k centroid rows and a per-row projection. Contrast
    with embedding_similarity_clusters, which thresholds the global
    pair graph: this is the form that survives 100 TB because k grows."""
    load_tables(spark, sf_dir)
    m = materialize(spark.sql(
        _semdedup_assign_sql(fold_norm2, fold_l2, argmin=True)
    ))
    m.createOrReplaceTempView("semdedup_m")
    # the report's per-cell LEFT JOIN tree is all broadcast joins (no
    # exchange below the final sort), so a trailing ORDER BY made the
    # range sampler re-run the 125k-pair dot-product filter once more per
    # action — report_sort runs it exactly once (the per-cell summary is
    # bounded by the cell count)
    body = _semdedup_report_sql(fold_dot, "SELECT * FROM semdedup_m")
    body = strip_order_by(body, "ORDER BY c.cell")
    return report_sort(spark.sql(body), "cell")


QUERIES["semdedup_drop_candidates"] = semdedup_drop_candidates


def _duck_norm2(e: str) -> str:
    return (f"list_aggregate(list_transform({e}, x -> "
            f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')")


def _duck_dot(a: str, b: str) -> str:
    return (f"list_aggregate(list_transform(range(1, 65), i -> "
            f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')")


def _duck_l2(a: str, b: str) -> str:
    return (f"list_aggregate(list_transform(range(1, 65), i -> "
            f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
            f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), 'sum')")


ORACLE["semdedup_drop_candidates"] = _semdedup_report_sql(
    _duck_dot, _semdedup_assign_sql(_duck_norm2, _duck_l2)
)


SNM_WINDOW = 5  # sorted-neighborhood slide width


_SNM_SQL = """
    WITH s AS (
        SELECT p_partkey, p_name,
               substr(p_name, 1, 1) AS blk,
               row_number() OVER (PARTITION BY substr(p_name, 1, 1)
                                  ORDER BY p_name, p_partkey) AS r
        FROM part
    )
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM s a JOIN s b
      ON a.blk = b.blk AND b.r > a.r AND b.r <= a.r + {w}
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    ORDER BY key_a, key_b
"""


def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity resolution (Hernández & Stolfo,
    SIGMOD'95): sort records on a match key inside first-character
    blocks, slide a width-{w} window, verify candidates with
    levenshtein ≤ 2 — the THIRD blocking family next to token blocking
    (fuzzy_name_pairs) and LSH (minhash): candidates per record are
    O(w) by construction, independent of how hot any single token is.

    Scale shape: the sort/rank window partitions by block (never
    global), and the neighbor join is an equi-join on block with a
    ±{w} rank band — a merge join over co-sorted runs. Identical SQL
    on both engines (both ship levenshtein)."""
    load_tables(spark, sf_dir)
    return spark.sql(_SNM_SQL.format(w=SNM_WINDOW))


QUERIES["sorted_neighborhood_pairs"] = sorted_neighborhood_pairs
ORACLE["sorted_neighborhood_pairs"] = _SNM_SQL.format(w=SNM_WINDOW)


_SOURCE_OVERLAP_HEAD = """
    WITH toks AS (SELECT source, {split} AS w FROM documents),
    ss AS (
        SELECT DISTINCT source, s FROM (
            SELECT source, {shingle_unnest} AS s
            FROM toks WHERE {wlen} >= 3
        )
    )"""

_SOURCE_OVERLAP_TAIL = """
    cnt AS (SELECT source, count(*) AS n FROM ss GROUP BY source),
    common AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_common
        FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT m.source_a, m.source_b, m.n_common,
           {jac} AS jaccard,
           {cont} AS containment
    FROM common m
    JOIN cnt ca ON ca.source = m.source_a
    JOIN cnt cb ON cb.source = m.source_b
    ORDER BY m.source_a, m.source_b
"""

# single-statement form (oracle use; DuckDB materializes the 3x-referenced
# ss CTE itself)
_SOURCE_OVERLAP_SQL = _SOURCE_OVERLAP_HEAD + "," + _SOURCE_OVERLAP_TAIL


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-level 3-gram overlap (Jaccard + containment of
    the smaller side) — the corpus-mix diagnostic that catches one
    source being a mirror/subset of another BEFORE near-dup detection
    runs doc-by-doc. The shingle relation collapses to DISTINCT
    (source, shingle) first — the join is then vocabulary-sized per
    source, not corpus-sized, and the pair aggregate is blocked on the
    shingle exactly like the dedup tier. Output is the full
    upper-triangle source matrix.

    The ss relation is materialized once (guide §2.4): it feeds cnt and
    BOTH pair-join sides, and Catalyst inlines CTEs, so the one-statement
    form replayed tokenize + shingle-explode + distinct 3x (measured
    1.16 s -> 0.48 s at sf0.1; the oracle keeps the inline form)."""
    load_tables(spark, sf_dir)
    materialize(spark.sql(_SOURCE_OVERLAP_HEAD.format(
        split="split(text, ' ')",
        shingle_unnest=f"explode({_SPARK_SHINGLE_SET})",
        wlen="size(w)",
    ) + " SELECT * FROM ss")).createOrReplaceTempView("so_ss")
    return spark.sql(("WITH ss AS (SELECT * FROM so_ss)," + _SOURCE_OVERLAP_TAIL).format(
        jac=R("m.n_common * 1e0 / (ca.n + cb.n - m.n_common)", 6),
        cont=R("m.n_common * 1e0 / least(ca.n, cb.n)", 6),
    ))


QUERIES["source_overlap_matrix"] = source_overlap_matrix
ORACLE["source_overlap_matrix"] = _SOURCE_OVERLAP_SQL.format(
    split="string_split(text, ' ')",
    shingle_unnest=(
        "unnest(list_distinct(list_transform(range(1, len(w) - 1), "
        "i -> w[i] || '_' || w[i + 1] || '_' || w[i + 2])))"
    ),
    wlen="len(w)",
    jac=R("m.n_common * 1e0 / (ca.n + cb.n - m.n_common)", 6),
    cont=R("m.n_common * 1e0 / least(ca.n, cb.n)", 6),
)


def _threshold_curve_sql(shingles: str) -> str:
    """Jaccard histogram over ALL blocked candidate pairs + cumulative
    pairs-at-or-above each band — the sensitivity curve that justifies a
    dedup threshold choice before committing a 100 TB pass (the
    cumulative column IS "how many pairs would τ=x emit")."""
    return f"""
        {shingles},
        cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        common AS (
            SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                   count(*) AS n_common
            FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
            GROUP BY x.doc_id, y.doc_id
        ),
        jac AS (
            SELECT CAST(floor(m.n_common * 10e0
                              / (ca.n + cb.n - m.n_common)) AS INT) AS band
            FROM common m
            JOIN cnt ca ON ca.doc_id = m.doc_a
            JOIN cnt cb ON cb.doc_id = m.doc_b
        ),
        hist AS (SELECT band, count(*) AS n_pairs FROM jac GROUP BY band)
        -- hash%1: the 11-row band histogram is bounded by construction
        SELECT band, n_pairs,
               CAST(sum(n_pairs) OVER (PARTITION BY (hash(band) % 1)
                    ORDER BY band DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS pairs_at_or_above
        FROM hist
        ORDER BY band
    """


def near_dup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold sensitivity of exact shingle-Jaccard dedup: per 0.1
    band, how many candidate pairs land there, and cumulatively how
    many a threshold at that band would emit. Candidates are the
    share-any-shingle blocked pairs (the superset every detector
    verifies); the cumulative window runs over the 11-row histogram."""
    load_tables(spark, sf_dir)
    return spark.sql(_threshold_curve_sql(_SPARK_SHINGLES))


QUERIES["near_dup_threshold_curve"] = near_dup_threshold_curve
ORACLE["near_dup_threshold_curve"] = _threshold_curve_sql(_DUCK_SHINGLES)


CONTAINMENT_NUM = 4  # tau = 4/5: integer spelling 5*|A.B| >= 4*|A| keeps
CONTAINMENT_DEN = 5  # the threshold comparison exact in both engines


def _containment_verify_sql(inter, arr_src: str) -> str:
    """Shared containment verification over candidate pairs: containment
    C(A->B) = |A.B| / |A| with A the smaller side (n_a < n_b, ties by
    id). The threshold compare is integer arithmetic (5c >= 4*n_a), so
    no float knife edge exists in either dialect."""
    return f"""
        common AS (
            SELECT c.doc_a, c.doc_b, {inter} AS n_common,
                   a.n AS na, b.n AS nb
            FROM cand c
            JOIN {arr_src} a ON a.doc_id = c.doc_a
            JOIN {arr_src} b ON b.doc_id = c.doc_b
        )
        SELECT doc_a, doc_b,
               CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               {R("n_common * 1e0 / na", 6)} AS containment
        FROM common
        WHERE {CONTAINMENT_DEN} * n_common >= {CONTAINMENT_NUM} * na
          AND (na < nb OR (na = nb AND doc_a < doc_b))
        ORDER BY doc_a, doc_b
    """


def containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric set-CONTAINMENT similarity join (|A∩B|/|A| >= 0.8 with
    A the smaller document): finds documents SUBSUMED by larger ones —
    quote farms, boilerplate wrappers, partial copies — which symmetric
    Jaccard misses (a small doc fully contained in a 10x-larger one has
    J ~= 0.1). The decontamination companion: benchmark rows embedded
    inside training documents are containment hits, not resemblance
    hits.

    Candidates via the containment form of prefix filtering (Chaudhuri
    et al. ICDE'06): under the global rarity order, if |A∩B| >=
    ceil(τ·|A|) then A has at most |A| - ceil(τ·|A|) shingles outside
    B, so A's first |A| - ceil(τ·|A|) + 1 rarity-ordered shingles must
    hit B somewhere — join the PREFIX postings against full postings
    (prefix entries are the rarest shingles, so the probe side's lists
    stay short). Verification intersects per-doc xxhash64 shingle
    arrays (same collision caveat as jaccard_prefix_filter_pairs — the
    oracle intersects the string shingles directly).

    Scale shape: prefix postings shrink candidate generation the same
    way the Jaccard AllPairs join does; the rarity window partitions by
    doc_id; verification touches candidates only."""
    load_tables(spark, sf_dir)
    _shingles(spark)
    tau = f"{CONTAINMENT_NUM}e0 / {CONTAINMENT_DEN}e0"
    body = f"""{_RARITY_CTES},
        prefix AS (
            SELECT o.doc_id, o.s
            FROM ordered o JOIN cnt c ON c.doc_id = o.doc_id
            WHERE o.r <= c.n - CAST(ceil(({tau}) * c.n) AS BIGINT) + 1
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM prefix a JOIN sh b
              ON a.s = b.s AND a.doc_id <> b.doc_id
        ),
        hs AS (SELECT doc_id, xxhash64(s) AS h FROM sh),
        arrs AS (
            SELECT doc_id, collect_list(h) AS ss, count(*) AS n
            FROM hs GROUP BY doc_id
        ),
        {_containment_verify_sql("size(array_intersect(a.ss, b.ss))",
                                 "arrs")}
    """
    # report_sort: the verify subtree above the cand/arrs joins is
    # broadcast-heavy with no exchange below the final sort, so a
    # trailing ORDER BY makes the range sampler re-run the whole
    # prefix-filter + intersect pipeline once more per action; the
    # thresholded containment pair list is a bounded report
    body = strip_order_by(body, "ORDER BY doc_a, doc_b")
    return report_sort(spark.sql(body), "doc_a", "doc_b")


QUERIES["containment_dup_pairs"] = containment_dup_pairs
ORACLE["containment_dup_pairs"] = f"""
    {_DUCK_SHINGLES},
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
        FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id <> y.doc_id
        GROUP BY x.doc_id, y.doc_id
    )
    SELECT m.doc_a, m.doc_b,
           CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
           {R("m.n_common * 1e0 / ca.n", 6)} AS containment
    FROM common m
    JOIN cnt ca ON ca.doc_id = m.doc_a
    JOIN cnt cb ON cb.doc_id = m.doc_b
    WHERE {CONTAINMENT_DEN} * m.n_common >= {CONTAINMENT_NUM} * ca.n
      AND (ca.n < cb.n OR (ca.n = cb.n AND m.doc_a < m.doc_b))
    ORDER BY m.doc_a, m.doc_b
"""


_CLUSTER_HIST_SQL = """
    WITH cl AS ({src})
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs,
           CAST(sum(n_dropped) AS BIGINT) AS n_dropped
    FROM cl GROUP BY cluster_size ORDER BY cluster_size
"""


def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the near-dup components — the report
    that tells a curation run whether dedup losses come from a long tail
    of pairs or a few giant templates (a power-law cluster histogram
    means template/boilerplate removal beats pairwise dedup). One
    grouped agg over dup_clusters' component table (component-count
    cardinality, trivially small relative to the corpus)."""
    clusters = dup_clusters(spark, sf_dir)
    clusters.createOrReplaceTempView("dup_clusters_v")
    return spark.sql(
        _CLUSTER_HIST_SQL.format(src="SELECT * FROM dup_clusters_v")
    )


QUERIES["dup_cluster_size_histogram"] = dup_cluster_size_histogram
ORACLE["dup_cluster_size_histogram"] = _CLUSTER_HIST_SQL.format(
    src=ORACLE["dup_clusters"]
)


_SPLICE_SQL = """
    WITH fp AS (
        SELECT doc_id, md5(text) AS full_fp,
               md5(substr(text, 1, 64)) AS head_fp,
               md5(substr(text, greatest(1, length(text) - 63), 64))
                   AS tail_fp
        FROM documents WHERE length(text) >= 64
    ),
    heads AS (
        SELECT 'head' AS boundary, a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM fp a JOIN fp b
          ON a.head_fp = b.head_fp AND a.doc_id < b.doc_id
         AND a.full_fp <> b.full_fp
    ),
    tails AS (
        SELECT 'tail' AS boundary, a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM fp a JOIN fp b
          ON a.tail_fp = b.tail_fp AND a.doc_id < b.doc_id
         AND a.full_fp <> b.full_fp
    )
    SELECT boundary, doc_a, doc_b
    FROM (SELECT * FROM heads UNION ALL SELECT * FROM tails) u
    ORDER BY boundary, doc_a, doc_b
"""


def boilerplate_boundary_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-boundary detector: document pairs sharing an identical
    64-char opening (head) or closing (tail) while differing in body —
    the template/footer signature exact dedup misses (full hashes
    differ) and shingle Jaccard dilutes (a shared footer is a small
    fraction of a long page). The curation action is boundary STRIPPING
    rather than document dropping, so the report keys on which edge
    matched.

    Scale shape: one fingerprint projection, two self-equi-joins on
    64-char md5 keys (hot boilerplate keys are exactly the skew the
    salting/AQE machinery handles), no verification pass needed — the
    md5 equality IS the 64-char match. Identical SQL on both engines."""
    load_tables(spark, sf_dir)
    return spark.sql(_SPLICE_SQL)


QUERIES["boilerplate_boundary_pairs"] = boilerplate_boundary_pairs
ORACLE["boilerplate_boundary_pairs"] = _SPLICE_SQL


_EFF_MASS_TAIL = """
    -- ONE reference to rep: a second (sizes-join) reference would make
    -- Catalyst replay the whole recursive walk per reference; the
    -- component-partitioned window is bounded by cluster size
    w AS (
        SELECT node AS doc_id,
               1e0 / count(*) OVER (PARTITION BY component) AS wt
        FROM rep
    ),
    alldocs AS (
        SELECT d.source, coalesce(w.wt, 1e0) AS wt
        FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           {eff} AS effective_docs,
           {disc} AS dedup_discount
    FROM alldocs GROUP BY source ORDER BY source
"""


def cluster_weighted_sample_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware effective dataset size per source: members of a
    near-dup cluster carry weight 1/cluster_size (a cluster contributes
    ONE document's worth of mass however many copies exist — the
    repetition-discounting reweighting the data-curation literature
    applies instead of hard dropping), singletons weight 1. The
    dedup_discount column is the fraction of a source's nominal volume
    that is repetition.

    Scale shape: components come from connected_components() — the same
    pointer-jumping O(log diameter) walk dup_clusters_star uses, with NO
    depth cap (the previous 6-hop recursive walk would silently split a
    near-dup chain of diameter > 6 into several components and overstate
    effective mass); weights broadcast back to the corpus via one LEFT
    join; everything else is a grouped sum."""
    pairs = materialize(
        minhash_near_dup_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .coalesce(1)
    )
    connected_components(pairs).selectExpr(
        "node", "label AS component"
    ).createOrReplaceTempView("eff_rep_v")
    tail = _EFF_MASS_TAIL.format(
        eff=R("sum(wt)", 4), disc=R("1e0 - sum(wt) / count(*)", 6)
    )
    return spark.sql(f"""
        WITH rep AS (SELECT node, component FROM eff_rep_v),
        {tail}
    """)


QUERIES["cluster_weighted_sample_mass"] = cluster_weighted_sample_mass
ORACLE["cluster_weighted_sample_mass"] = f"""
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
    {_EFF_MASS_TAIL.format(eff=R("sum(wt)", 4),
                           disc=R("1e0 - sum(wt) / count(*)", 6))}
"""


# --- MinHash estimator calibration ------------------------------------------


def _calibration_curve_sql(
    shingles: str, concat2, sig_body: str | None = None, mat: str = ""
) -> str:
    """Estimate-vs-truth calibration of the k=8 MinHash Jaccard estimator
    over the LSH candidate set: per matching-component count m (the only
    values the estimator can emit: m/8), the count of candidate pairs,
    the mean EXACT Jaccard, and the mean absolute estimator error. The
    diagnostic that justifies (or indicts) a chosen signature width —
    E[matches/k] = J per component (Broder, SEQUENCES'97), so avg_true
    should track est within the binomial band."""
    sig = sig_body or _sig_sql()
    eq = " + ".join(
        f"CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END"
        for k in range(N_HASHES)
    )
    return f"""
        {shingles},
        sig AS {mat}({sig}),
        bands AS (
{_bands_sql(concat2)}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        ),
        est AS (
            SELECT c.doc_a, c.doc_b, ({eq}) AS n_match,
                   sa.n AS na, sb.n AS nb
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.doc_a
            JOIN sig sb ON sb.doc_id = c.doc_b
        ),
        common AS (
            SELECT c.doc_a, c.doc_b, count(*) AS n_common
            FROM cand c
            JOIN sh x ON x.doc_id = c.doc_a
            JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
            GROUP BY c.doc_a, c.doc_b
        ),
        t AS (
            SELECT e.n_match,
                   coalesce(m.n_common, 0) * 1e0
                       / (e.na + e.nb - coalesce(m.n_common, 0)) AS jacc
            FROM est e
            LEFT JOIN common m
              ON m.doc_a = e.doc_a AND m.doc_b = e.doc_b
        )
        SELECT CAST(n_match AS INT) AS n_match,
               {R(f"n_match * 1e0 / {N_HASHES}", 4)} AS estimate,
               CAST(count(*) AS BIGINT) AS n_pairs,
               {R("avg(jacc)", 4)} AS avg_true_jaccard,
               {R(f"avg(abs(n_match * 1e0 / {N_HASHES} - jacc))", 4)}
                   AS mean_abs_error
        FROM t GROUP BY n_match ORDER BY n_match
    """


def minhash_estimate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration curve (see _calibration_curve_sql).

    Scale shape: identical candidate generation to minhash_near_dup_pairs
    (banded equi-join, never all-pairs); shingles and signatures are
    the builder's checkpoints (`_signatures`), shared by the band branches,
    the component comparison, and the exact verify."""
    load_tables(spark, sf_dir)
    _signatures(spark)
    return spark.sql(_calibration_curve_sql(
        _SH_CTE, _spark_concat2, sig_body=f"SELECT * FROM {_SIG_VIEW}"
    ))


QUERIES["minhash_estimate_calibration"] = minhash_estimate_calibration
ORACLE["minhash_estimate_calibration"] = _calibration_curve_sql(
    _DUCK_SHINGLES, lambda a, b: f"({a} || {b})", mat="MATERIALIZED "
)


# --- blocking quality evaluation ---------------------------------------------

BLOCKEVAL_PCT = 10  # deterministic md5 sample of parts for the exact arm

_BLOCKING_EVAL_TAIL = f"""
    s AS (
        SELECT p_partkey, p_name,
               substr(p_name, 1, 1) AS blk,
               row_number() OVER (PARTITION BY substr(p_name, 1, 1)
                                  ORDER BY p_name, p_partkey) AS r
        FROM samp
    ),
    cand AS (
        SELECT least(a.p_partkey, b.p_partkey) AS ka,
               greatest(a.p_partkey, b.p_partkey) AS kb
        FROM s a JOIN s b
          ON a.blk = b.blk AND b.r > a.r AND b.r <= a.r + {{w}}
    ),
    truth AS (
        SELECT a.p_partkey AS ka, b.p_partkey AS kb
        FROM samp a JOIN samp b ON b.p_partkey > a.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 2
    ),
    j AS (
        SELECT CASE WHEN t.ka IS NOT NULL THEN 1 ELSE 0 END AS is_true,
               CASE WHEN c.ka IS NOT NULL THEN 1 ELSE 0 END AS is_cand
        FROM truth t FULL OUTER JOIN cand c
          ON c.ka = t.ka AND c.kb = t.kb
    ),
    agg AS (
        SELECT CAST(coalesce(sum(is_cand), 0) AS BIGINT) AS nc,
               CAST(coalesce(sum(is_true), 0) AS BIGINT) AS nt,
               CAST(coalesce(sum(is_true * is_cand), 0) AS BIGINT) AS nf
        FROM j
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM samp)
    SELECT nn.n AS n_sample,
           CAST(nn.n * (nn.n - 1) / 2 AS BIGINT) AS n_all_pairs,
           a.nc AS n_candidates,
           a.nt AS n_true_matches,
           a.nf AS n_found,
           {R("1e0 - a.nc * 2e0 / (nn.n * (nn.n - 1e0))", 6)}
               AS reduction_ratio,
           {R("CASE WHEN a.nt = 0 THEN 1e0"
              " ELSE a.nf * 1e0 / a.nt END", 6)} AS pairs_completeness
    FROM nn CROSS JOIN agg a
"""


def blocking_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme evaluation for the sorted-neighborhood ER pipeline
    (the standard RR/PC protocol — Christen, "Data Matching", 2012
    §7.5): on a deterministic BLOCKEVAL_PCT% md5 sample of parts,
    compare the SNM window's candidate set against the EXACT all-pairs
    levenshtein <= 2 ground truth. Reduction ratio = share of pairs the
    blocking never scores; pairs completeness = share of true matches
    the blocking still reaches. The eval that says whether the
    window/block-key choice is throwing away recall for its speed.

    Scale shape: the exact arm is inherently quadratic, so it runs on
    the bounded md5 sample ONLY (the ann_recall_eval pattern — the
    evaluation panel stays fixed-size while the production blocking
    scales). The sample is MATERIALIZED on the Spark side (four CTE
    references — SNM ranks, both truth sides, the size count — would
    each replay the part scan), and all five counts come from ONE
    full-outer join of truth against candidates plus the sample count —
    not a count-CTE per metric."""
    load_tables(spark, sf_dir)
    bucket = (
        "CAST(conv(substring(md5(CAST(p_partkey AS STRING)), 1, 4), 16, 10)"
        " AS INT) % 100"
    )
    materialize(spark.sql(
        f"SELECT p_partkey, p_name FROM part WHERE {bucket}"
        f" < {BLOCKEVAL_PCT}"
    )).createOrReplaceTempView("blockeval_samp_v")
    return spark.sql(
        "WITH samp AS (SELECT * FROM blockeval_samp_v),"
        + _BLOCKING_EVAL_TAIL.format(w=SNM_WINDOW)
    )


_DUCK_BLOCKEVAL_BUCKET = (
    "CAST(concat('0x', substr(md5(CAST(p_partkey AS VARCHAR)), 1, 4))"
    " AS INTEGER) % 100"
)

QUERIES["blocking_quality_eval"] = blocking_quality_eval
ORACLE["blocking_quality_eval"] = (
    "WITH samp AS MATERIALIZED (SELECT p_partkey, p_name FROM part WHERE "
    + _DUCK_BLOCKEVAL_BUCKET
    + f" < {BLOCKEVAL_PCT}),"
    + _BLOCKING_EVAL_TAIL.format(w=SNM_WINDOW)
)


# --- LSH candidate budget (join-cost planner) ----------------------------------


def _lsh_budget_sql(sig_src: str, concat2, intdiv: str) -> str:
    """Per-band LSH bucket accounting: the candidate-pair budget
    sum_buckets n(n-1)/2 IS the row count the banded self-join will emit
    before verification (the only expensive shuffle in the near-dup
    pipeline), read straight off the bucket histogram without running the
    join. max_pair_share flags a skewed band (one mega-bucket paying most
    of the join) — the signal to add a band, widen band keys or cap
    bucket fan-out. The ALL row (band = -1) is the whole pipeline's
    budget, directly comparable to SCALING.md's measured candidate
    counts."""
    return f"""
        {sig_src},
        bands AS (
{_bands_sql(concat2)}
        ),
        bk AS (
            SELECT band, bkey, count(*) AS n
            FROM bands GROUP BY band, bkey
        )
        SELECT CAST(coalesce(band, -1) AS BIGINT) AS band,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(max(n) AS BIGINT) AS max_bucket,
               CAST(sum((n * (n - 1)) {intdiv} 2) AS BIGINT)
                   AS candidate_pairs,
               {R(f"max((n * (n - 1)) {intdiv} 2) * 1e0"
                  f" / greatest(sum((n * (n - 1)) {intdiv} 2), 1)", 4)}
                   AS max_pair_share
        FROM bk
        GROUP BY GROUPING SETS ((band), ())
        ORDER BY band
    """


def lsh_candidate_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair budget of the MinHash LSH banding (see
    _lsh_budget_sql) — the capacity-planning read on the same signatures
    minhash_near_dup_pairs joins, so the planner and the join can never
    disagree about the banding.

    Scale shape: signatures are one grouped agg over the materialized
    shingle relation; the histogram and budget are grouped aggs over
    (band, bkey) — map-combinable, bounded output, and the expensive join
    it prices is never executed."""
    load_tables(spark, sf_dir)
    _shingles(spark)
    return spark.sql(_lsh_budget_sql(
        f"WITH sig AS (SELECT doc_id, {_minhash_cols()} "
        f"FROM {_SH_VIEW} GROUP BY doc_id)",
        _spark_concat2,
        "DIV",
    ))


QUERIES["lsh_candidate_budget"] = lsh_candidate_budget
ORACLE["lsh_candidate_budget"] = _lsh_budget_sql(
    _DUCK_SHINGLES
    + f", sig AS MATERIALIZED (SELECT doc_id, {_minhash_cols()} "
    "FROM sh GROUP BY doc_id)",
    lambda a, b: f"({a} || {b})",
    "//",
)


# --- LSH banding planner ----------------------------------------------------
#
# The design-time companion to minhash_near_dup_pairs: given a fixed
# signature budget of PLANNER_HASHES minhashes, every (bands, rows) split
# trades false positives against false negatives through the S-curve
# P(candidate | J = s) = 1 - (1 - s^r)^b (Leskovec-Rajaraman-Ullman, MMDS
# ch. 3.4.2). This op evaluates EVERY split against (a) the corpus's own
# exact near-dup truth set (expected recall and the worst true pair's
# detection probability — the numbers that tell you which banding would
# lose YOUR duplicates) and (b) the analytic curve (false-positive /
# false-negative areas on a 200-point midpoint grid around the tau
# threshold) — the report a pipeline owner reads before committing a 100 TB
# dedup pass to one banding.

PLANNER_HASHES = 64
_PLANNER_GRID = [(1, 64), (2, 32), (4, 16), (8, 8), (16, 4), (32, 2),
                 (64, 1)]
_PLANNER_VALUES = ", ".join(f"({b}, {r})" for b, r in _PLANNER_GRID)


def _planner_cols(p_of, fold_grid, js_len, js_min):
    """Shared column expressions: p_of(x) -> detect-prob SQL for jaccard
    expr x; fold_grid(lo, hi, body) -> deterministic sequential sum of
    body(k) over the midpoint grid k in [lo, hi]; js_len / js_min ->
    array length / minimum expr. Both engines fold arrays in identical element order, so every
    float accumulates identically (group-sum merge order is
    nondeterministic in Spark — the fold is the determinism guarantee)."""
    s = "((k - 0.5e0) / 200)"
    return f"""
        CAST(g.b AS BIGINT) AS bands,
        CAST(g.r AS BIGINT) AS rows_per_band,
        {R("pow(1e0 / g.b, 1e0 / g.r)", 6)} AS est_threshold,
        CASE WHEN {js_len} = 0 THEN NULL ELSE
            {R(f"{fold_grid('js', p_of('j'))} / {js_len}", 6)}
        END AS expected_recall,
        CASE WHEN {js_len} = 0 THEN NULL ELSE
            {R(p_of(js_min), 6)}
        END AS worst_pair_detect,
        {R(f"{fold_grid('lo', p_of(s))} / 200", 6)} AS fp_area,
        {R(f"{fold_grid('hi', '1e0 - (' + p_of(s) + ')')} / 200", 6)}
            AS fn_area
    """


def lsh_banding_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-parameter frontier for a {PLANNER_HASHES}-minhash budget:
    one row per (bands, rows_per_band) split with the S-curve's estimated
    threshold (1/b)^(1/r), the expected recall and worst-pair detection
    probability over THIS corpus's exact near-dup truth set
    (ngram_jaccard_pairs, J >= {JACCARD_THRESHOLD}), and the analytic
    false-positive / false-negative areas of the curve around tau.

    Scale shape: the truth relation is the existing exact similarity
    join (bounded, already sub-quadratic via prefix filtering at scale);
    everything after is a 7-row grid x two bounded array folds — O(1) in
    corpus size. All float accumulation is sequential array folds in
    identical element order on both engines (group-sum merge order is
    nondeterministic), so the 1e-6 rounding grid compares exactly."""
    load_tables(spark, sf_dir)
    ngram_jaccard_pairs(spark, sf_dir).createOrReplaceTempView(
        "lshp_pairs_v"
    )

    def p_of(x):
        return f"(1e0 - pow(1e0 - pow({x}, g.r), g.b))"

    def fold_grid(which, body):
        rng = {"lo": "sequence(1, 100)", "hi": "sequence(101, 200)",
               "js": "js"}[which]
        var = "j" if which == "js" else "k"
        return (f"aggregate({rng}, CAST(0 AS DOUBLE), "
                f"(acc, {var}) -> acc + ({body}))")

    cols = _planner_cols(p_of, fold_grid, "size(js)", "array_min(js)")
    return spark.sql(f"""
        WITH parr AS (
            SELECT transform(
                       array_sort(collect_list(struct(doc_a, doc_b,
                                                      jaccard))),
                       x -> x.jaccard) AS js
            FROM lshp_pairs_v
        ),
        grid AS (
            SELECT * FROM VALUES {_PLANNER_VALUES} AS g(b, r)
        )
        SELECT {cols}
        FROM grid g CROSS JOIN parr
        ORDER BY bands
    """)


def _planner_oracle() -> str:
    def p_of(x):
        return f"(1e0 - pow(1e0 - pow({x}, g.r), g.b))"

    def fold_grid(which, body):
        rng = {"lo": "range(1, 101)", "hi": "range(101, 201)",
               "js": "js"}[which]
        var = "j" if which == "js" else "k"
        return (f"list_aggregate(list_transform({rng}, "
                f"{var} -> ({body})), 'sum')")

    cols = _planner_cols(
        p_of, fold_grid, "coalesce(len(js), 0)", "list_min(js)"
    )
    return f"""
        WITH pairs AS MATERIALIZED ({_NGRAM_JACCARD_ORACLE}),
        parr AS (
            SELECT list(jaccard ORDER BY doc_a, doc_b) AS js FROM pairs
        ),
        grid(b, r) AS (VALUES {_PLANNER_VALUES})
        SELECT {cols}
        FROM grid g CROSS JOIN parr
        ORDER BY bands
    """


QUERIES["lsh_banding_planner"] = lsh_banding_planner
ORACLE["lsh_banding_planner"] = _planner_oracle()


# --- train/eval n-gram decontamination ----------------------------------------------
# The benchmark-leakage screen every pretraining pipeline runs before
# training (GPT-3 appendix C / PaLM / Llama use 8-13-gram overlap; the
# fixture corpus is short synthetic text, so the op uses word 4-grams —
# the n is a named constant, the shape is identical): a training
# document is contaminated if it shares at least one distinct word
# n-gram with ANY eval-set document. Eval set = the 'src19' source
# slice, standing in for a held-out benchmark.
DECON_N = 4
DECON_EVAL_SOURCE = "src19"
DECON_TOP = 100


def _decon_hit_ctes(grams, alen: str) -> str:
    """toks/tr/ev/hit CTEs — shared by the report query and the
    pre-LIMIT contaminated-count helper the scaling study asserts."""
    n = DECON_N
    return f"""toks AS (
            SELECT doc_id, source, {{split}} AS w FROM documents
        ),
        tr AS (
            SELECT doc_id, source, {grams}
            FROM toks WHERE {alen}(w) >= {n}
              AND source <> '{DECON_EVAL_SOURCE}'
        ),
        ev AS (
            SELECT doc_id AS eval_id, {grams}
            FROM toks WHERE {alen}(w) >= {n}
              AND source = '{DECON_EVAL_SOURCE}'
        ),
        hit AS (
            SELECT t.doc_id, t.source,
                   count(DISTINCT t.g) AS n_hit,
                   count(DISTINCT e.eval_id) AS n_eval_docs
            FROM tr t JOIN ev e ON t.g = e.g
            GROUP BY t.doc_id, t.source
        )"""


def _decon_sql(grams, alen: str) -> str:
    return f"""
        WITH {_decon_hit_ctes(grams, alen)},
        tot AS (
            SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY doc_id
        )
        SELECT h.doc_id, h.source,
               CAST(h.n_hit AS BIGINT) AS n_hit,
               CAST(h.n_eval_docs AS BIGINT) AS n_eval_docs,
               CAST(t.n_grams AS BIGINT) AS n_grams,
               {R("h.n_hit * 1e0 / t.n_grams", 6)} AS contaminated_frac
        FROM hit h JOIN tot t ON h.doc_id = t.doc_id
        ORDER BY h.n_hit DESC, h.doc_id
        LIMIT {DECON_TOP}
    """


def ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{DECON_TOP} contaminated training documents: training docs
    (source <> '{DECON_EVAL_SOURCE}') sharing distinct word {DECON_N}-grams
    with the eval slice (source = '{DECON_EVAL_SOURCE}'), with the shared-
    gram count, the number of eval docs matched, and the contaminated
    fraction of the doc's distinct grams.

    Scale shape: THE decontamination join — the eval side is a benchmark
    (tiny, broadcast after its distinct-gram agg); the training corpus is
    scanned ONCE into distinct per-doc grams and equi-joins the broadcast
    eval grams (never gram x gram); the per-doc totals reuse the same
    exploded relation; the report is TakeOrdered top-{DECON_TOP}. At
    100 TB the cost is one corpus scan + a broadcast hash join."""
    load_tables(spark, sf_dir)
    parts = ", ".join(f"element_at(w, i + {j})" for j in range(DECON_N))
    grams = (
        f"explode(array_distinct(transform("
        f"sequence(1, size(w) - {DECON_N - 1}), "
        f"i -> concat_ws('_', {parts})))) AS g"
    )
    return spark.sql(
        _decon_sql(grams, "size").format(split="split(text, ' ')")
    )


def decon_contaminated_count(spark: SparkSession) -> int:
    """PRE-LIMIT contaminated-doc count over the CURRENT documents view —
    the growth quantity the sf~1 study asserts (`decon10`): the report
    head is bounded at {DECON_TOP}, so the head's row count carries no
    growth signal once saturated, while this count must be EXACTLY 10x
    under token-bijection replicas (replica eval slices share grams only
    with their own replica's training docs)."""
    parts = ", ".join(f"element_at(w, i + {j})" for j in range(DECON_N))
    grams = (
        f"explode(array_distinct(transform("
        f"sequence(1, size(w) - {DECON_N - 1}), "
        f"i -> concat_ws('_', {parts})))) AS g"
    )
    sql = (
        f"WITH {_decon_hit_ctes(grams, 'size')} "
        f"SELECT count(*) AS n FROM hit"
    ).format(split="split(text, ' ')")
    # guard-exempt: bounded driver fetch (1 count row)
    return spark.sql(sql).collect()[0].n


def _decon_oracle() -> str:
    parts = "||'_'||".join(f"w[i + {j}]" for j in range(DECON_N))
    grams = (
        f"unnest(list_distinct(list_transform("
        f"range(1, len(w) - {DECON_N - 2}), i -> {parts}))) AS g"
    )
    return _decon_sql(grams, "len").format(split="string_split(text, ' ')")


QUERIES["ngram_decontamination"] = ngram_decontamination
ORACLE["ngram_decontamination"] = _decon_oracle()


# --- fuzzy (MinHash) decontamination triage ------------------------------------------
# split_leakage_audit (operators/fingerprints.py) reports the MATRIX of
# verified near-dup pairs straddling the md5 90/5/5 split; this op is
# its actionable complement: the PER-DOCUMENT drop list — which
# valid/test documents have a trained-on near-duplicate, how many, at
# what verified Jaccard, and who the strongest training partner is.
# Exact n-gram decontamination (ngram_decontamination) misses lightly
# rephrased leakage; this catches it with the near-dup tier's verified
# MinHash pair set.


_SPLIT_BUCKET_SPARK = (
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)"
    " AS INT) % 100"
)
_SPLIT_BUCKET_DUCK = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))"
    " AS INTEGER) % 100"
)


def _fuzzy_decon_sql(pairs_sql: str, bucket_expr: str) -> str:
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
        lk AS (
            SELECT CASE WHEN sa.split_name = 'train' THEN p.doc_b
                        ELSE p.doc_a END AS eval_id,
                   CASE WHEN sa.split_name = 'train' THEN sb.split_name
                        ELSE sa.split_name END AS split_name,
                   CASE WHEN sa.split_name = 'train' THEN p.doc_a
                        ELSE p.doc_b END AS train_id,
                   p.jaccard
            FROM pairs p
            JOIN splits sa ON sa.doc_id = p.doc_a
            JOIN splits sb ON sb.doc_id = p.doc_b
            WHERE (sa.split_name = 'train') <> (sb.split_name = 'train')
        ),
        rep AS (
            SELECT eval_id, split_name,
                   count(*) AS n_train_matches, max(jaccard) AS mj
            FROM lk GROUP BY eval_id, split_name
        ),
        top AS (
            SELECT l.eval_id, min(l.train_id) AS top_train_id
            FROM lk l JOIN rep r
              ON r.eval_id = l.eval_id AND l.jaccard = r.mj
            GROUP BY l.eval_id
        )
        SELECT CAST(r.eval_id AS BIGINT) AS doc_id,
               r.split_name,
               CAST(r.n_train_matches AS BIGINT) AS n_train_matches,
               r.mj AS max_jaccard,
               CAST(t.top_train_id AS BIGINT) AS top_train_id
        FROM rep r JOIN top t ON t.eval_id = r.eval_id
        ORDER BY r.mj DESC, r.eval_id
    """


def fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document near-duplicate leakage triage over the md5 90/5/5
    split: every valid/test document with a TRAINED-ON near-duplicate
    (the tier's verified MinHash-LSH pair set at Jaccard >=
    {JACCARD_THRESHOLD}), with its leaked-partner count, the max
    verified Jaccard, and the strongest training-side partner id — the
    drop list a decontamination pass actually executes, complementing
    split_leakage_audit's aggregate matrix.

    Scale shape: pairs-scale (the banded-LSH join the sf~1 study bounds
    for minhash_near_dup_pairs — this op consumes the identical pair
    relation); the split assignment is a per-row projection joined back
    twice by doc_id; the triage rollup is grouped on the leaked subset
    only.

    Composition, not recomputation (guide §2.4 — remove shuffles/passes
    outright): the pair relation IS minhash_near_dup_pairs (whose
    shingle + signature intermediates are materialized once inside it),
    and the verified pair set is materialized here because the lk
    relation built on it is read twice (rep + top) — the inlined
    spelling replayed the whole shingle explosion 3x and the banded
    self-join twice (measured 2.13 s -> 0.50 s at sf0.1; the oracle
    keeps the single-statement inline form, DuckDB materializes
    multiply-referenced CTEs itself)."""
    load_tables(spark, sf_dir)
    materialize(minhash_near_dup_pairs(spark, sf_dir)).createOrReplaceTempView(
        "fz_pairs"
    )
    return spark.sql(_fuzzy_decon_sql(
        "SELECT * FROM fz_pairs",
        _SPLIT_BUCKET_SPARK,
    ))


def _fuzzy_decon_oracle() -> str:
    return _fuzzy_decon_sql(
        _band_pairs_sql(_DUCK_SHINGLES, lambda a, b: f"{a} || {b}"),
        _SPLIT_BUCKET_DUCK,
    )


QUERIES["fuzzy_decontamination"] = fuzzy_decontamination
ORACLE["fuzzy_decontamination"] = _fuzzy_decon_oracle()
