"""Text-analysis operators over `documents` — the training-data-pipeline tier
(BASELINE.json north star; SURVEY.md §7 step 7): token counting, quality
scoring, language-ID heuristic, document fingerprinting.

All pure built-in SQL expressions (split/transform/filter/aggregate lambdas,
md5, regexp_count) — JVM-codegen'd, no Python UDFs — with one deliberate
exception: `char_entropy_scores` uses a single Arrow-vectorized pandas UDF
(numpy bincount per batch) because the per-character histogram is the one
computation where every built-in spelling is either a shuffle (explode +
re-group) or O(alphabet × bytes) interpreted-lambda work; see its docstring.
Each operator has an exact DuckDB oracle twin
(list_transform/list_filter/regexp_extract_all).

Scale notes: every operator is a per-row projection + optional small
aggregation — embarrassingly parallel, no shuffle except final group/sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from database_toolbox_spark.operators._oracle import R
from database_toolbox_spark.operators.dedup import (
    _DUCK_SHINGLES,
    _SPARK_SHINGLES,
)
from database_toolbox_spark.session import load_tables, materialize

# Tiny stopword lists for the heuristic scorers (public knowledge).
STOPWORDS = ("the", "a", "of", "and", "to", "in")
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "et", "les", "des"),
}
_LANG_ORDER = ("en", "de", "es", "fr")


def _sql_list(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts, distinct-token counts, mean token length."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
        WITH t AS (SELECT doc_id, lang, source, n_chars,
                          split(text, ' ') AS w, length(text) AS text_len
                   FROM documents)
        SELECT doc_id, lang, source, n_chars, text_len,
               size(w)                 AS n_tokens,
               size(array_distinct(w)) AS n_uniq_tokens,
               {R_spark_avg_tok}       AS avg_token_len
        FROM t ORDER BY doc_id
    """)


# mean token length = sum(len(tok)) / n, canon-rounded at 4 digits
R_spark_avg_tok = R(
    "aggregate(transform(w, t -> length(t)), 0L, (acc, x) -> acc + x)"
    " * 1e0 / size(w)",
    4,
)
_duck_avg_tok = R(
    "list_aggregate(list_transform(w, t -> length(t)), 'sum')"
    " * 1e0 / len(w)",
    4,
)


def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics: stopword ratio, type-token ratio, length score,
    and a blended quality score."""
    load_tables(spark, sf_dir)
    sw = _sql_list(STOPWORDS)
    return spark.sql(f"""
        WITH t AS (SELECT doc_id, lang, split(text, ' ') AS w FROM documents),
        m AS (
            SELECT doc_id, lang,
                   size(w) AS n_tokens,
                   size(filter(w, t -> t IN ({sw}))) AS n_stop,
                   size(array_distinct(w)) AS n_uniq
            FROM t
        )
        SELECT doc_id, lang,
               {R("n_stop * 1e0 / n_tokens", 6)}  AS stopword_ratio,
               {R("n_uniq * 1e0 / n_tokens", 6)}  AS type_token_ratio,
               {R("least(n_tokens / 100e0, 1e0)", 6)} AS length_score,
               {R("0.4e0 * (1e0 - n_stop * 1e0 / n_tokens)"
                  " + 0.3e0 * (n_uniq * 1e0 / n_tokens)"
                  " + 0.3e0 * least(n_tokens / 100e0, 1e0)", 6)} AS quality
        FROM m ORDER BY doc_id
    """)


def _lang_score_exprs(filter_fn: str) -> str:
    """Per-language stopword hit counts; same SQL shape in both dialects
    (only the lambda/list function names differ)."""
    cols = []
    for lang in _LANG_ORDER:
        words = _sql_list(LANG_MARKERS[lang])
        cols.append(
            f"size({filter_fn}(w, t -> t IN ({words}))) AS s_{lang}"
        )
    return ", ".join(cols)


def _lang_pick_expr() -> str:
    """Deterministic argmax with fixed priority order en>de>es>fr."""
    branches = []
    for lang in _LANG_ORDER:
        others = [o for o in _LANG_ORDER if o != lang]
        cond = " AND ".join(f"s_{lang} >= s_{o}" for o in others)
        branches.append(f"WHEN s_{lang} > 0 AND {cond} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'unknown' END"


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language-ID heuristic: score each language's marker
    list, pick the argmax (fixed priority on ties), compare to the declared
    lang column."""
    load_tables(spark, sf_dir)
    scores = _lang_score_exprs("filter")
    pick = _lang_pick_expr()
    return spark.sql(f"""
        WITH t AS (SELECT doc_id, lang, split(text, ' ') AS w FROM documents),
        s AS (SELECT doc_id, lang, {scores} FROM t)
        SELECT doc_id, lang AS declared_lang,
               s_en, s_de, s_es, s_fr,
               {pick} AS predicted_lang,
               CAST(({pick}) = lang AS INT) AS agrees
        FROM s ORDER BY doc_id
    """)


def _confusion_sql(split_fn: str, filter_fn: str, cast_hits: str) -> str:
    scores = ", ".join(
        f"{cast_hits.format(expr=f'{filter_fn}(w, t -> t IN ({_sql_list(LANG_MARKERS[lang])}))')} AS s_{lang}"  # noqa: E501
        for lang in _LANG_ORDER
    )
    pick = _lang_pick_expr()
    return f"""
        WITH t AS (SELECT doc_id, lang, {split_fn}(text, ' ') AS w
                   FROM documents),
        s AS (SELECT doc_id, lang, {scores} FROM t),
        labeled AS (
            SELECT lang AS declared_lang, {pick} AS predicted_lang FROM s
        )
        SELECT declared_lang, predicted_lang,
               count(*) AS n,
               {R("count(*) * 1e2 / sum(count(*)) OVER"
                  " (PARTITION BY declared_lang)", 4)} AS pct_of_declared
        FROM labeled
        GROUP BY declared_lang, predicted_lang
        ORDER BY declared_lang, predicted_lang
"""


def language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation rollup of the language-ID heuristic: the
    (declared × predicted) confusion matrix with per-declared-language
    recall percentages — the model-eval report that turns language_id's
    per-document verdicts into corpus-level quality numbers.

    One grouped count over the (lang × lang) domain; the percentage
    window partitions on declared_lang over that bounded matrix."""
    load_tables(spark, sf_dir)
    return spark.sql(_confusion_sql(
        "split", "filter", "size({expr})"
    ))


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fingerprints: full-text md5 + 64-char-prefix md5 (a
    cheap rolling-hash stand-in that detects shared-prefix near-dups)."""
    load_tables(spark, sf_dir)
    return spark.sql("""
        SELECT doc_id,
               md5(text)                    AS fp,
               md5(substring(text, 1, 64))  AS prefix_fp,
               length(text)                 AS text_len
        FROM documents ORDER BY doc_id
    """)


def token_count_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, regex word tokens, and a
    BPE-ish estimate (chars/4, the common rule of thumb)."""
    load_tables(spark, sf_dir)
    return spark.sql("""
        SELECT doc_id,
               size(split(text, ' '))                    AS ws_tokens,
               CAST(regexp_count(text, '[a-z]+') AS INT) AS word_tokens,
               CAST(ceil(length(text) / 4e0) AS INT)     AS bpe_est_tokens
        FROM documents ORDER BY doc_id
    """)


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF by composition (explode → two aggregations → join):
    tf = term count / doc length, idf = ln(N / df); top term per doc by
    tf-idf with deterministic tie-break. The explode→agg shape is the
    canonical distributed tf-idf — no driver-side vocabulary."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
        WITH toks AS (
            SELECT /*+ REPARTITION */ doc_id, explode(split(text, ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS n,
                   sum(count(*)) OVER (PARTITION BY doc_id) AS doc_len
            FROM toks GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
        ),
        n_docs AS (SELECT count(*) AS n FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   {R("(tf.n * 1e0 / tf.doc_len) * ln(n_docs.n * 1e0 / df.df)", 6)}
                       AS tfidf
            FROM tf JOIN df ON tf.term = df.term CROSS JOIN n_docs
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY tfidf DESC, term) AS rn
            FROM scored
        )
        SELECT doc_id, term AS top_term, tfidf
        FROM ranked WHERE rn = 1 ORDER BY doc_id
    """)


def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition signals per document: duplicate-bigram
    fraction (1 − distinct/total adjacent bigrams) and top-token
    concentration (most frequent token's share), with a blended
    `repetitive` flag — the filters that kill boilerplate/spam docs in a
    training-data cleaning funnel.

    Pure array-lambda projection (no shuffle at all): bigrams built with
    transform(sequence(...)), token mode via a nested lambda over the
    distinct tokens — O(n·u) per doc, fine for bounded-length documents
    (a corpus with book-length outliers would cap `w` with slice() or
    switch the mode computation to the explode→groupBy plan tf-idf uses)."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
        WITH t AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
        m AS (
            SELECT doc_id,
                   size(w) AS n_tokens,
                   transform(sequence(1, size(w) - 1),
                             i -> concat(element_at(w, i), ' ',
                                         element_at(w, i + 1))) AS bg,
                   array_max(transform(array_distinct(w),
                             t -> size(filter(w, x -> x = t)))) AS top_tok
            FROM t WHERE size(w) > 1
        )
        SELECT doc_id, n_tokens,
               size(bg)                 AS n_bigrams,
               size(array_distinct(bg)) AS n_uniq_bigrams,
               {R("1e0 - size(array_distinct(bg)) * 1e0 / size(bg)", 6)}
                   AS dup_bigram_frac,
               {R("top_tok * 1e0 / n_tokens", 6)} AS top_token_frac,
               CAST({R("1e0 - size(array_distinct(bg)) * 1e0 / size(bg)", 6)}
                        >= 0.5e0
                    OR {R("top_tok * 1e0 / n_tokens", 6)} >= 0.2e0
                    AS INT) AS repetitive
        FROM m ORDER BY doc_id
    """)


_REPETITION_ORACLE = f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        m AS (
            SELECT doc_id,
                   CAST(len(w) AS INT) AS n_tokens,
                   list_transform(range(1, len(w)),
                                  i -> concat(w[i], ' ', w[i + 1])) AS bg,
                   list_aggregate(list_transform(list_distinct(w),
                       t -> len(list_filter(w, x -> x = t))), 'max') AS top_tok
            FROM t WHERE len(w) > 1
        )
        SELECT doc_id, n_tokens,
               CAST(len(bg) AS INT)                AS n_bigrams,
               CAST(len(list_distinct(bg)) AS INT) AS n_uniq_bigrams,
               {R("1e0 - len(list_distinct(bg)) * 1e0 / len(bg)", 6)}
                   AS dup_bigram_frac,
               {R("top_tok * 1e0 / n_tokens", 6)} AS top_token_frac,
               CAST({R("1e0 - len(list_distinct(bg)) * 1e0 / len(bg)", 6)}
                        >= 0.5e0
                    OR {R("top_tok * 1e0 / n_tokens", 6)} >= 0.2e0
                    AS INT) AS repetitive
        FROM m ORDER BY doc_id
"""


def term_postings_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction (the search/retrieval side of the corpus
    tier): per-term posting lists, shown for the 20 highest-document-
    frequency terms — document frequency plus the first 10 doc ids of the
    sorted posting list (joined to CSV so the oracle hash is list-order
    exact).

    Distributed shape: explode → per-(term, doc) distinct → one groupBy on
    term builds every posting list in parallel; a real index would write
    the lists bucketed by term so lookups prune to one bucket. The top-k
    here is TakeOrderedAndProject over the tiny term-level aggregate."""
    load_tables(spark, sf_dir)
    return spark.sql("""
        WITH toks AS (
            SELECT DISTINCT doc_id, p.col AS term
            FROM documents LATERAL VIEW explode(split(text, ' ')) p AS col
        ),
        agg AS (
            SELECT term, count(*) AS df,
                   sort_array(collect_list(doc_id)) AS docs
            FROM toks GROUP BY term
        )
        SELECT term, df, array_join(slice(docs, 1, 10), ',') AS first_docs
        FROM agg ORDER BY df DESC, term LIMIT 20
    """)


_POSTINGS_ORACLE = """
        WITH toks AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        agg AS (
            SELECT term, count(*) AS df,
                   list(doc_id ORDER BY doc_id) AS docs
            FROM toks GROUP BY term
        )
        SELECT term, df, array_to_string(docs[1:10], ',') AS first_docs
        FROM agg ORDER BY df DESC, term LIMIT 20
"""


def _bigram_sql(toks_cte: str) -> str:
    """Corpus top-20 adjacent-token bigrams; toks_cte yields (doc_id, pos,
    term) — position spelling differs per dialect (posexplode vs unnest
    WITH ORDINALITY)."""
    return f"""
        WITH toks AS (
            {toks_cte}
        ),
        big AS (
            SELECT doc_id,
                   lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
                   term AS t2
            FROM toks
        ),
        counts AS (
            SELECT t1, t2, count(*) AS n
            FROM big WHERE t1 IS NOT NULL
            GROUP BY t1, t2
            ORDER BY n DESC, t1, t2
            LIMIT 20
        )
        -- hash%1 partition: counts is LIMIT-20-bounded; the constant
        -- declares the single partition intentional in both dialects
        SELECT t1, t2, n,
               CAST(row_number() OVER (PARTITION BY (hash(t1) % 1)
                    ORDER BY n DESC, t1, t2) AS INT) AS rnk
        FROM counts
        ORDER BY n DESC, t1, t2
    """


def _bigram_lm_sql(
    toks_cte: str, fold_expr: str, big_body: str | None = None
) -> str:
    """Corpus-quality scoring with a bigram language model (the CCNet-style
    perplexity filter, SQL-native): train add-one-smoothed bigram
    transition probabilities on the corpus itself, score each document by
    its average transition probability.

    Determinism: the per-bigram probability is a single IEEE division of
    exact integers — bit-identical across engines (unlike ln(), whose libm
    rounding differs) — and the per-doc sum uses an explicit ORDERED fold
    (fold_expr; sorted by token position), so shuffle-merge order can
    never flake the rounded result (see temperature_mix_allocation
    precedent).

    big_body overrides the bigram CTE body (e.g. a SELECT from a
    materialized view — Spark inlines CTEs, so `big` would otherwise
    recompute its window for each of its three consumers)."""
    big = big_body or f"""
            SELECT * FROM (
                SELECT doc_id, pos,
                       lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
                       term AS w2
                FROM ({toks_cte})
            ) WHERE w1 IS NOT NULL"""
    return f"""
        WITH toks AS (
            {toks_cte}
        ),
        big AS (
            {big}
        ),
        bc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
        uc AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
        v AS (SELECT count(DISTINCT term) AS vocab FROM toks),
        s AS (
            SELECT g.doc_id, g.pos,
                   (c.c12 + 1e0) / (u.c1 + v.vocab) AS p
            FROM big g
            JOIN bc c ON c.w1 = g.w1 AND c.w2 = g.w2
            JOIN uc u ON u.w1 = g.w1
            CROSS JOIN v
        ),
        agg AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   {fold_expr} AS sp
            FROM s GROUP BY doc_id
        )
        SELECT doc_id, n_bigrams,
               {R("sp / n_bigrams", 6)} AS avg_transition_prob
        FROM agg ORDER BY doc_id
    """


def bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM corpus-quality scores (see _bigram_lm_sql). Scale shape:
    the per-doc bigram stream is materialized ONCE (it feeds the bigram
    counts, the head counts, and the scoring join — CTE inlining would
    recompute its window 3x), then two vocabulary-sized grouped
    aggregates, hash joins back on bigram keys, a 1-row broadcast for the
    vocab size — everything shuffles on real keys, nothing quadratic."""
    load_tables(spark, sf_dir)
    toks = (
        "SELECT /*+ REPARTITION */ doc_id, p.pos, p.col AS term "
        "FROM documents LATERAL VIEW posexplode(split(text, ' ')) p AS pos, col"
    )
    materialize(spark.sql(f"""
        SELECT * FROM (
            SELECT doc_id, pos,
                   lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
                   term AS w2
            FROM ({toks})
        ) WHERE w1 IS NOT NULL
    """)).createOrReplaceTempView("bigram_lm_big_mat")
    return spark.sql(_bigram_lm_sql(
        toks,
        "aggregate(array_sort(collect_list(struct(pos, p))), "
        "CAST(0 AS DOUBLE), (acc, x) -> acc + x.p)",
        big_body="SELECT * FROM bigram_lm_big_mat",
    ))


def corpus_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram top-k (language-model n-gram statistics): the
    explode stays partition-local (REPARTITION hint spreads the CPU-heavy
    expansion), the lag window partitions per doc, and only the tiny
    bigram-count table shuffles globally."""
    load_tables(spark, sf_dir)
    return spark.sql(_bigram_sql(
        "SELECT /*+ REPARTITION */ doc_id, p.pos, p.col AS term "
        "FROM documents LATERAL VIEW posexplode(split(text, ' ')) p AS pos, col"
    ))


_BPE_SPARK_SQL = """
        WITH words AS (
            SELECT word, count(*) AS freq
            FROM (
                SELECT explode(split(lower(text), '[^a-z]+')) AS word
                FROM documents
            )
            WHERE length(word) >= 2
            GROUP BY word
        ),
        pairs AS (
            SELECT pair, freq
            FROM words
            LATERAL VIEW explode(transform(sequence(1, length(word) - 1),
                                           i -> substring(word, i, 2)))
                p AS pair
        )
        SELECT pair, sum(freq) AS merge_count
        FROM pairs GROUP BY pair
        ORDER BY merge_count DESC, pair
        LIMIT 20
"""

_BPE_ORACLE = """
        WITH words AS (
            SELECT word, count(*) AS freq
            FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+'))
                      AS word
                  FROM documents)
            WHERE length(word) >= 2
            GROUP BY word
        ),
        pairs AS (
            SELECT substr(word, CAST(u.i AS INT), 2) AS pair, freq
            FROM words, unnest(range(1, length(word))) AS u(i)
        )
        SELECT pair, CAST(sum(freq) AS BIGINT) AS merge_count
        FROM pairs GROUP BY pair
        ORDER BY merge_count DESC, pair
        LIMIT 20
"""


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE tokenizer-training step, distributed: rank character-pair
    merge candidates by corpus frequency — adjacent character pairs inside
    each distinct word, weighted by the word's corpus count (the statistic
    the byte-pair-encoding merge loop maximizes each round).

    Scale shape: word counting is one grouped agg over exploded tokens
    (map-side partial combine); the pair explosion then runs over the
    DISTINCT-WORD table, whose size is vocabulary-bounded (Heaps' law —
    see heaps_law_checkpoints), not corpus-bounded, so the expensive
    explode touches ~|V| rows however large the corpus; distinct pairs are
    ≤26², and the top-20 is TakeOrderedAndProject. Repeating the loop =
    apply the winning merge and re-count, each round this same plan."""
    load_tables(spark, sf_dir)
    return spark.sql(_BPE_SPARK_SQL)


_READABILITY_SQL = """
        WITH counted AS (
            SELECT doc_id,
                   {n_words} AS n_words,
                   greatest(1, {n_sents}) AS n_sentences,
                   greatest(1, {n_syll}) AS n_syllables
            FROM documents
        )
        SELECT doc_id, n_words, n_sentences, n_syllables,
               {wps} AS words_per_sentence,
               {spw} AS syllables_per_word,
               {flesch} AS flesch_score
        FROM counted
        WHERE n_words > 0
        ORDER BY doc_id
"""
_WPS = "n_words * 1e0 / n_sentences"
_SPW = "n_syllables * 1e0 / n_words"
_FLESCH = (
    "206.835e0 - 1.015e0 * (n_words * 1e0 / n_sentences)"
    " - 84.6e0 * (n_syllables * 1e0 / n_words)"
)


def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from regex-countable proxies
    (words = space tokens, sentences = terminal punctuation, syllables =
    vowel groups — the standard cheap approximation): the readability
    facet of corpus quality filtering next to doc_quality_scores'
    length/stopword heuristics.

    Pure per-row regexp projection — embarrassingly parallel, one scan,
    no shuffle before the output sort. Counts via regexp_count (Spark) /
    len(regexp_extract_all) (DuckDB) on identical patterns."""
    load_tables(spark, sf_dir)
    return spark.sql(_READABILITY_SQL.format(
        # BIGINT casts: Spark size()/regexp_count() are INT while DuckDB
        # len() is BIGINT — the driver's schema compare must see one type
        n_words="CAST(size(split(text, ' ')) AS BIGINT)",
        n_sents="CAST(regexp_count(text, '[.!?]') AS BIGINT)",
        n_syll="CAST(regexp_count(lower(text), '[aeiouy]+') AS BIGINT)",
        wps=R(_WPS, 4),
        spw=R(_SPW, 4),
        flesch=R(_FLESCH, 4),
    ))


_BM25_K1 = "1.2e0"
_BM25_B = "0.75e0"
# fixed query over the corpus vocabulary — BM25 is a (query, doc) scorer;
# the operator materializes the ranking for one representative query
_BM25_TERMS = "'spark', 'join', 'window'"

# canon-rounded rank key over the scored CTE — shared with the hybrid
# retrieval operator (similarity.py) so every consumer ranks identically
BM25_SCORE_R = R("score", 4)


def bm25_scored_ctes(n_words: str, tok_src: str,
                     exclude_doc: int | None = None) -> str:
    """The ONE definition of the BM25 pipeline — CTE chain
    dl/stats/tok/tf/df/scored ending in scored(doc_id, score), shared
    by bm25_top_terms and similarity.hybrid_rrf_search in BOTH dialects
    (the formula itself is dialect-neutral SQL; only n_words/tok_src
    vary). exclude_doc drops a query document from the ranking AND from
    the corpus statistics (n_docs/sum_dl/df) so idf and length
    normalization describe the same corpus the ranking runs over."""
    excl = f" AND doc_id <> {exclude_doc}" if exclude_doc is not None else ""
    dl_excl = f" WHERE doc_id <> {exclude_doc}" if exclude_doc is not None else ""
    return f"""dl AS (SELECT doc_id, {n_words} AS dl FROM documents{dl_excl}),
    stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
    tok AS ({tok_src}),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok
        WHERE term IN ({_BM25_TERMS}){excl}
        GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT t.doc_id,
               sum(
                   ln(1e0 + (s.n_docs - d.df + 0.5e0) / (d.df + 0.5e0))
                   * (t.tf * ({_BM25_K1} + 1e0))
                   / (t.tf + {_BM25_K1} * (1e0 - {_BM25_B}
                      + {_BM25_B} * l.dl * s.n_docs * 1e0 / s.sum_dl))
               ) AS score
        FROM tf t
        JOIN df d ON d.term = t.term
        JOIN dl l ON l.doc_id = t.doc_id
        CROSS JOIN stats s
        GROUP BY t.doc_id
    )"""


def _bm25_sql(n_words: str, tok_src: str) -> str:
    return f"""
    WITH {bm25_scored_ctes(n_words, tok_src)}
    SELECT doc_id, {BM25_SCORE_R} AS bm25
    FROM scored
    ORDER BY {BM25_SCORE_R} DESC, doc_id
    LIMIT 20
"""


def bm25_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 document ranking for a fixed query (k1=1.2, b=0.75) —
    the classical retrieval scorer the tf-idf operator approximates,
    with saturation (k1) and length normalization (b).

    Scale shape: the IN-list filter prunes the exploded token stream at
    the scan, the tf aggregate is map-side combinable on (doc, term),
    and df/stats are broadcast-sized; the ranking is TakeOrdered (ORDER
    BY + LIMIT), never a global sort. Scores rank on the canon-rounded
    value so ln() libm ulp differences between engines cannot reorder
    the cut (same guard as the KL/Zipf operators)."""
    load_tables(spark, sf_dir)
    return spark.sql(_bm25_sql(
        n_words="CAST(size(split(text, ' ')) AS BIGINT)",
        tok_src="SELECT doc_id, explode(split(text, ' ')) AS term "
                "FROM documents",
    ))


PMI_MIN_COUNT = 5  # collocation support floor


def _pmi_sql(toks_cte: str) -> str:
    """Top-20 PMI collocations; toks_cte yields (doc_id, pos, term) as in
    _bigram_sql. PMI = ln(p(t1,t2) / (p(t1)·p(t2))) with unigram probs
    from the token stream and bigram probs from adjacent pairs; a
    support floor keeps the rare-pair PMI blowup out."""
    return f"""
        WITH toks AS (
            {toks_cte}
        ),
        uni AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
        n1 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
        big AS (
            SELECT doc_id,
                   lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
                   term AS t2
            FROM toks
        ),
        bc AS (
            SELECT t1, t2, count(*) AS n12
            FROM big WHERE t1 IS NOT NULL
            GROUP BY t1, t2
        ),
        n2 AS (SELECT CAST(sum(n12) AS BIGINT) AS n FROM bc),
        scored AS (
            SELECT bc.t1, bc.t2, bc.n12,
                   ln((bc.n12 * 1e0 / n2.n)
                      / ((u1.c * 1e0 / n1.n) * (u2.c * 1e0 / n1.n)))
                       AS pmi
            FROM bc
            JOIN uni u1 ON u1.term = bc.t1
            JOIN uni u2 ON u2.term = bc.t2
            CROSS JOIN n1 CROSS JOIN n2
            WHERE bc.n12 >= {PMI_MIN_COUNT}
        )
        SELECT t1, t2, n12, {R("pmi", 4)} AS pmi
        FROM scored
        ORDER BY {R("pmi", 4)} DESC, t1, t2
        LIMIT 20
    """


def bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocations: the bigrams most
    over-represented vs their unigram frequencies (PMI), with a
    min-count support floor — the classic phrase/collocation miner
    (corpus_bigram_topk ranks raw frequency; PMI surfaces STICKY pairs).

    Same partition-local explode + per-doc lag as the other n-gram ops;
    unigram/bigram count tables are vocabulary-bounded; ranking is
    TakeOrdered on the canon-rounded score (ln ulp guard)."""
    load_tables(spark, sf_dir)
    return spark.sql(_pmi_sql(
        "SELECT /*+ REPARTITION */ doc_id, p.pos, p.col AS term "
        "FROM documents LATERAL VIEW posexplode(split(text, ' ')) p AS pos, col"
    ))


_FERTILITY_SQL = """
    WITH d AS (
        SELECT lang,
               {ws} AS n_words,
               {wt} AS n_word_toks,
               length(text) AS n_chars
        FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           {avg_words} AS avg_words_per_doc,
           {fertility} AS tokens_per_word,
           {cpt} AS chars_per_token
    FROM d GROUP BY lang ORDER BY lang
"""


def token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility QA per language: regex word-tokens per
    whitespace word and characters per token — the per-language report
    you check before fixing a tokenizer for a multilingual training
    mix (high fertility = the tokenizer fragments that language,
    inflating its effective cost per document).

    Scale shape: pure per-row projections feeding one grouped agg on
    lang (map-side combinable, language-count output cardinality).
    Integer sums are exact, so the rounded ratios are deterministic."""
    load_tables(spark, sf_dir)
    return spark.sql(_FERTILITY_SQL.format(
        ws="size(split(text, ' '))",
        wt="CAST(regexp_count(text, '[a-z]+') AS BIGINT)",
        avg_words=R("sum(n_words) * 1e0 / count(*)", 4),
        fertility=R("sum(n_word_toks) * 1e0 / sum(n_words)", 6),
        cpt=R("sum(n_chars) * 1e0 / sum(n_word_toks)", 6),
    ))


QUERIES = {
    "bigram_pmi_topk": bigram_pmi_topk,
    "token_fertility_by_lang": token_fertility_by_lang,
    "bm25_top_terms": bm25_top_terms,
    "bpe_merge_candidates": bpe_merge_candidates,
    "readability_scores": readability_scores,
    "language_id_confusion": language_id_confusion,
    "bigram_lm_scores": bigram_lm_scores,
    "corpus_bigram_topk": corpus_bigram_topk,
    "doc_repetition_scores": doc_repetition_scores,
    "term_postings_topk": term_postings_topk,
    "doc_token_stats": doc_token_stats,
    "tfidf_top_terms": tfidf_top_terms,
    "doc_quality_scores": doc_quality_scores,
    "language_id": language_id,
    "doc_fingerprints": doc_fingerprints,
    "token_count_estimates": token_count_estimates,
}

ORACLE = {
    "token_fertility_by_lang": _FERTILITY_SQL.format(
        ws="len(string_split(text, ' '))",
        wt="CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT)",
        avg_words=R("sum(n_words) * 1e0 / count(*)", 4),
        fertility=R("sum(n_word_toks) * 1e0 / sum(n_words)", 6),
        cpt=R("sum(n_chars) * 1e0 / sum(n_word_toks)", 6),
    ),
    "bigram_pmi_topk": _pmi_sql(
        "SELECT doc_id, u.i AS pos, toks[u.i] AS term "
        "FROM (SELECT doc_id, string_split(text, ' ') AS toks "
        "      FROM documents), "
        "     unnest(range(1, len(toks) + 1)) AS u(i)"
    ),
    "bm25_top_terms": _bm25_sql(
        n_words="len(string_split(text, ' '))",
        tok_src="SELECT doc_id, unnest(string_split(text, ' ')) AS term "
                "FROM documents",
    ),
    "bpe_merge_candidates": _BPE_ORACLE,
    "language_id_confusion": _confusion_sql(
        "string_split", "list_filter", "CAST(len({expr}) AS INT)"
    ),
    "readability_scores": _READABILITY_SQL.format(
        n_words="len(string_split(text, ' '))",
        n_sents="len(regexp_extract_all(text, '[.!?]'))",
        n_syll="len(regexp_extract_all(lower(text), '[aeiouy]+'))",
        wps=R(_WPS, 4),
        spw=R(_SPW, 4),
        flesch=R(_FLESCH, 4),
    ),
    "bigram_lm_scores": _bigram_lm_sql(
        "SELECT doc_id, u.i AS pos, toks[u.i] AS term "
        "FROM (SELECT doc_id, string_split(text, ' ') AS toks "
        "      FROM documents), "
        "     unnest(range(1, len(toks) + 1)) AS u(i)",
        "list_reduce(list(p ORDER BY pos), (acc, x) -> acc + x)",
    ),
    "doc_repetition_scores": _REPETITION_ORACLE,
    "term_postings_topk": _POSTINGS_ORACLE,
    "corpus_bigram_topk": _bigram_sql(
        "SELECT doc_id, u.i AS pos, toks[u.i] AS term "
        "FROM (SELECT doc_id, string_split(text, ' ') AS toks "
        "      FROM documents), "
        "     unnest(range(1, len(toks) + 1)) AS u(i)"
    ),
    "tfidf_top_terms": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS n,
                   sum(count(*)) OVER (PARTITION BY doc_id) AS doc_len
            FROM toks GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
        ),
        n_docs AS (SELECT count(*) AS n FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   {R("(tf.n * 1e0 / tf.doc_len) * ln(n_docs.n * 1e0 / df.df)", 6)}
                       AS tfidf
            FROM tf JOIN df ON tf.term = df.term CROSS JOIN n_docs
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY tfidf DESC, term) AS rn
            FROM scored
        )
        SELECT doc_id, term AS top_term, tfidf
        FROM ranked WHERE rn = 1 ORDER BY doc_id
    """,
    "doc_token_stats": f"""
        WITH t AS (SELECT doc_id, lang, source, n_chars,
                          string_split(text, ' ') AS w,
                          CAST(length(text) AS INT) AS text_len
                   FROM documents)
        SELECT doc_id, lang, source, n_chars, text_len,
               CAST(len(w) AS INT)                 AS n_tokens,
               CAST(len(list_distinct(w)) AS INT)  AS n_uniq_tokens,
               {_duck_avg_tok}                     AS avg_token_len
        FROM t ORDER BY doc_id
    """,
    "doc_quality_scores": f"""
        WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
                   FROM documents),
        m AS (
            SELECT doc_id, lang,
                   CAST(len(w) AS INT) AS n_tokens,
                   CAST(len(list_filter(w, t -> t IN ({_sql_list(STOPWORDS)})))
                        AS INT) AS n_stop,
                   CAST(len(list_distinct(w)) AS INT) AS n_uniq
            FROM t
        )
        SELECT doc_id, lang,
               {R("n_stop * 1e0 / n_tokens", 6)}  AS stopword_ratio,
               {R("n_uniq * 1e0 / n_tokens", 6)}  AS type_token_ratio,
               {R("least(n_tokens / 100e0, 1e0)", 6)} AS length_score,
               {R("0.4e0 * (1e0 - n_stop * 1e0 / n_tokens)"
                  " + 0.3e0 * (n_uniq * 1e0 / n_tokens)"
                  " + 0.3e0 * least(n_tokens / 100e0, 1e0)", 6)} AS quality
        FROM m ORDER BY doc_id
    """,
    "language_id": f"""
        WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
                   FROM documents),
        s AS (SELECT doc_id, lang,
              {", ".join(
                  f"CAST(len(list_filter(w, t -> t IN ({_sql_list(LANG_MARKERS[lang])}))) AS INT) AS s_{lang}"
                  for lang in _LANG_ORDER
              )}
              FROM t)
        SELECT doc_id, lang AS declared_lang,
               s_en, s_de, s_es, s_fr,
               {_lang_pick_expr()} AS predicted_lang,
               CAST(({_lang_pick_expr()}) = lang AS INT) AS agrees
        FROM s ORDER BY doc_id
    """,
    "doc_fingerprints": """
        SELECT doc_id,
               md5(text)                AS fp,
               md5(substr(text, 1, 64)) AS prefix_fp,
               CAST(length(text) AS INT) AS text_len
        FROM documents ORDER BY doc_id
    """,
    "token_count_estimates": """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT)          AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS word_tokens,
               CAST(ceil(length(text) / 4e0) AS INT)              AS bpe_est_tokens
        FROM documents ORDER BY doc_id
    """,
}


_NOVELTY_SQL = """
    {shingles},
    first AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s)
    SELECT sh.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           {ratio} AS novelty
    FROM sh JOIN first f ON f.s = sh.s
    GROUP BY sh.doc_id
    ORDER BY sh.doc_id
"""


def ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty: the fraction of a doc's shingles
    whose FIRST corpus occurrence (min doc_id) is this doc — the
    train-set diversity metric that exposes boilerplate/duplication a
    per-doc repetition score can't see (a doc can be internally varied
    yet 0% novel corpus-wide). Two grouped aggregates over the shingle
    stream (first-occurrence map + per-doc rollup) — both map-side
    combinable; the join key is the shingle (the same co-location the
    dedup tier shuffles on)."""
    load_tables(spark, sf_dir)
    return spark.sql(_NOVELTY_SQL.format(
        shingles=_SPARK_SHINGLES.rstrip(),
        ratio=R("sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)"
                " * 1e0 / count(*)", 4),
    ))


def _novelty_oracle() -> str:
    return _NOVELTY_SQL.format(
        shingles=_DUCK_SHINGLES.rstrip(),
        ratio=R("sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)"
                " * 1e0 / count(*)", 4),
    )


QUERIES["ngram_novelty_scores"] = ngram_novelty_scores
ORACLE["ngram_novelty_scores"] = _novelty_oracle()


_RUN_SQL = """
    WITH toks AS ({pos_src}),
    marks AS (
        SELECT doc_id, pos, term,
               CASE WHEN lag(term) OVER (PARTITION BY doc_id
                                         ORDER BY pos) = term
                    THEN 0 ELSE 1 END AS brk
        FROM toks
    ),
    runs AS (
        SELECT doc_id, term,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS run_id
        FROM marks
    ),
    runlen AS (
        SELECT doc_id, run_id, count(*) AS len
        FROM runs GROUP BY doc_id, run_id
    )
    SELECT doc_id,
           CAST(max(len) AS BIGINT) AS max_run,
           CAST(sum(CASE WHEN len >= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_runs_ge3,
           CAST(count(*) AS BIGINT) AS n_runs
    FROM runlen GROUP BY doc_id ORDER BY doc_id
"""


def token_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-repetition detector: the longest run of IDENTICAL
    consecutive tokens per document plus the count of runs >= 3 — the
    signal that catches "the the the ..."-style model-collapse text and
    stuck-key spam, which bigram repetition fractions
    (doc_repetition_scores) dilute on long documents.

    The gaps-and-islands spelling: a lag-compare marks run breaks, the
    running sum of breaks numbers the runs (both windows PARTITION BY
    doc_id — bounded by document length, never corpus-wide), one
    grouped count per run, one per doc. Identical shape both engines."""
    load_tables(spark, sf_dir)
    return spark.sql(_RUN_SQL.format(
        pos_src="SELECT /*+ REPARTITION */ doc_id, pos, col AS term "
                "FROM documents "
                "LATERAL VIEW posexplode(split(text, ' ')) p AS pos, col"
    ))


QUERIES["token_run_lengths"] = token_run_lengths
ORACLE["token_run_lengths"] = _RUN_SQL.format(
    pos_src="SELECT doc_id, u.i AS pos, toks[u.i] AS term "
            "FROM (SELECT doc_id, string_split(text, ' ') AS toks "
            "      FROM documents), "
            "     unnest(range(1, len(toks) + 1)) AS u(i)"
)


# --- distinctive terms per source (Monroe et al. "Fightin' Words") ----------

_FW_TOP = 3
_FW_PRIOR = 0.5  # symmetric Dirichlet pseudo-count per term


_FW_K_SQL = """
        WITH tok AS ({tok_src}),
        k AS (
            SELECT source, term, CAST(count(*) AS BIGINT) AS k
            FROM tok GROUP BY source, term
        )"""


def _fightin_words_tail() -> str:
    """Ranked log-odds report given a `k(source, term, k)` CTE. Split out
    so the Spark side can materialize k once — it is referenced 4x (term
    totals, source totals, grand totals, the z join) and CTE inlining
    would replay the token-grain count per reference."""
    a = f"{_FW_PRIOR}e0"
    return f"""
        term_tot AS (
            SELECT term, CAST(sum(k) AS BIGINT) AS kt FROM k GROUP BY term
        ),
        src_tot AS (
            SELECT source, CAST(sum(k) AS BIGINT) AS ns FROM k GROUP BY source
        ),
        tot AS (
            SELECT CAST(sum(k) AS BIGINT) AS n,
                   CAST(count(DISTINCT term) AS BIGINT) AS v
            FROM k
        ),
        z AS (
            SELECT k.source, k.term,
                   (ln((k.k + {a}) / (s.ns + {a} * t.v - k.k - {a}))
                    - ln((tt.kt - k.k + {a})
                         / (t.n - s.ns + {a} * t.v - (tt.kt - k.k) - {a})))
                   / sqrt(1e0 / (k.k + {a}) + 1e0 / (tt.kt - k.k + {a}))
                       AS z
            FROM k
            JOIN term_tot tt ON tt.term = k.term
            JOIN src_tot s ON s.source = k.source
            CROSS JOIN tot t
        ),
        ranked AS (
            SELECT source, term, z,
                   CAST(row_number() OVER (PARTITION BY source
                       ORDER BY floor(z * 1000000e0) / 1000000e0 DESC, term)
                       AS INT) AS rnk
            FROM z
        )
        SELECT source, term, {R("z", 4)} AS z_score, rnk
        FROM ranked WHERE rnk <= {_FW_TOP}
        ORDER BY source, rnk
    """


def distinctive_terms_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Most over-represented terms per source by the smoothed log-odds
    z-score of Monroe, Colaresi & Quinn, "Fightin' Words" (Political
    Analysis 2008, eq. 16): for each (source, term), the log-odds of the
    term inside the source vs the rest of the corpus under a symmetric
    Dirichlet prior, standardized by its estimated variance
    1/(k+a) + 1/(k_rest+a). The corpus-drift / source-signature report —
    plain frequency ranks surface stopwords, tf-idf over-rewards hapaxes;
    the prior-shrunk z does neither.

    Determinism: every count is an exact BIGINT; z involves two ln calls
    and one sqrt on integer-derived doubles, ranked on a 1e-6-floored
    grid with a term tie-break, so cross-engine libm ulps cannot reorder.

    Scale shape: one token-grain grouped count, two broadcast-sized
    dimension joins (terms, sources), one 1-row total; the rank window
    partitions by source (bounded). The (source, term) count table is
    materialized once — referenced 4x, and CTE inlining would replay the
    token-grain scan per reference."""
    load_tables(spark, sf_dir)
    materialize(spark.sql(
        _FW_K_SQL.format(
            tok_src="SELECT source, explode(split(text, ' ')) AS term"
                    " FROM documents"
        ) + " SELECT * FROM k"
    )).createOrReplaceTempView("fw_k_v")
    return spark.sql(
        "WITH k AS (SELECT * FROM fw_k_v)," + _fightin_words_tail()
    )


QUERIES["distinctive_terms_by_source"] = distinctive_terms_by_source
ORACLE["distinctive_terms_by_source"] = (
    _FW_K_SQL.format(
        tok_src="SELECT source, unnest(string_split(text, ' ')) AS term"
                " FROM documents"
    )
    + ",\n"
    + _fightin_words_tail()
)


# --- code-switching score ---------------------------------------------------


def _code_switch_sql(split, ln, filt) -> str:
    """Per-doc language-mix entropy over the four marker-lists: p_i =
    marker hits for language i / total hits; score = -sum p ln p
    normalized by ln(4) to [0, 1]. A monolingual doc scores 0, an even
    two-language mix ~0.5 — the code-switching screen a multilingual
    pipeline runs before routing docs to per-language tokenizers."""
    hit_cols = ", ".join(
        f"{ln}({filt}(w, t -> t IN ({_sql_list(LANG_MARKERS[lang])})))"
        f" AS s_{lang}"
        for lang in _LANG_ORDER
    )
    tot = " + ".join(f"s_{lang}" for lang in _LANG_ORDER)
    ent = " + ".join(
        f"CASE WHEN s_{lang} > 0 THEN -(s_{lang} * 1e0 / tot)"
        f" * ln(s_{lang} * 1e0 / tot) ELSE 0e0 END"
        for lang in _LANG_ORDER
    )
    n_hit = " + ".join(
        f"CASE WHEN s_{lang} > 0 THEN 1 ELSE 0 END" for lang in _LANG_ORDER
    )
    return f"""
        WITH t AS (
            SELECT doc_id, lang, {split} AS w FROM documents
        ),
        m AS (SELECT doc_id, lang, {hit_cols} FROM t),
        e AS (
            SELECT doc_id, lang, {n_hit} AS n_langs_hit, tot,
                   CASE WHEN tot = 0 THEN 0e0
                        ELSE ({ent}) / ln(4e0) END AS mix_entropy
            FROM (SELECT *, {tot} AS tot FROM m)
        )
        SELECT doc_id, lang AS tagged_lang,
               CAST(n_langs_hit AS INT) AS n_langs_hit,
               CAST(tot AS BIGINT) AS n_marker_hits,
               {R("mix_entropy", 6)} AS code_switch_score
        FROM e ORDER BY doc_id
    """


def code_switch_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching / language-mix score per document (normalized
    language-marker entropy). Complements language_id (which picks ONE
    winner): here the signal is how contested the pick was.

    Scale shape: per-row array arithmetic, no shuffle at all beyond the
    final sort — embarrassingly parallel."""
    load_tables(spark, sf_dir)
    return spark.sql(_code_switch_sql("split(text, ' ')", "size", "filter"))


QUERIES["code_switch_scores"] = code_switch_scores
ORACLE["code_switch_scores"] = _code_switch_sql(
    "string_split(text, ' ')", "len", "list_filter"
)


# --- held-out bigram perplexity --------------------------------------------


def _heldout_ppl_sql(bucket: str, big_src: str, mat: str = "") -> str:
    """Held-out bigram cross-entropy per source: train an add-one-smoothed
    bigram LM on the md5-split train docs (the same 90/5/5 bucket rule as
    curation.hash_split_counts), score the held-out docs' transitions.
    The CCNet-style perplexity filter with a REAL train/eval separation —
    bigram_lm_scores trains on the corpus it scores, this one cannot leak.

    p(w2|w1) = (c12 + 1) / (c1 + V); unseen history means c12 = c1 = 0 so
    p = 1/V. Cross-entropy is averaged in nats then converted to bits;
    perplexity = 2^bits."""
    return f"""
        WITHBIG
        bc AS {mat}(SELECT w1, w2, count(*) AS c12 FROM big
                    WHERE is_train GROUP BY w1, w2),
        uc AS {mat}(SELECT w1, count(*) AS c1 FROM big
                    WHERE is_train GROUP BY w1),
        v AS (SELECT count(DISTINCT w2) AS vocab FROM big WHERE is_train),
        s AS (
            SELECT g.source,
                   (coalesce(c.c12, 0) + 1e0)
                       / (coalesce(u.c1, 0) + v.vocab) AS p,
                   CASE WHEN c.c12 IS NULL THEN 1 ELSE 0 END AS oov
            FROM big g
            LEFT JOIN bc c ON c.w1 = g.w1 AND c.w2 = g.w2
            LEFT JOIN uc u ON u.w1 = g.w1
            CROSS JOIN v
            WHERE NOT g.is_train
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_scored,
               {R("sum(oov) * 1e0 / count(*)", 4)} AS oov_bigram_rate,
               {R("avg(-ln(p)) / ln(2e0)", 4)} AS cross_entropy_bits,
               {R("pow(2e0, avg(-ln(p)) / ln(2e0))", 2)} AS perplexity
        FROM s GROUP BY source ORDER BY source
    """.replace("WITHBIG", f"""
        WITH big AS {mat}(
            {big_src.format(bucket=bucket)}
        ),""")


_HELDOUT_BIG_BODY = """
            SELECT * FROM (
                SELECT source,
                       ({bucket}) < 90 AS is_train,
                       lag(term) OVER (PARTITION BY doc_id ORDER BY pos)
                           AS w1,
                       term AS w2
                FROM toks_rel
            ) WHERE w1 IS NOT NULL"""


def bigram_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram perplexity per source (see _heldout_ppl_sql).

    Scale shape: the tagged bigram stream is materialized ONCE and feeds
    the two train-count aggregates, the vocab count, and the scoring join
    (CTE inlining would re-run the posexplode + window 4x); count tables
    join back on bigram keys; the 1-row vocab broadcasts."""
    load_tables(spark, sf_dir)
    spark.sql(
        "SELECT /*+ REPARTITION */ doc_id, source, p.pos, p.col AS term "
        "FROM documents LATERAL VIEW posexplode(split(text, ' ')) p AS pos,"
        " col"
    ).createOrReplaceTempView("toks_rel")
    bucket = (
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)"
        " AS INT) % 100"
    )
    materialize(spark.sql(
        _HELDOUT_BIG_BODY.format(bucket=bucket)
    )).createOrReplaceTempView("heldout_big_mat")
    return spark.sql(_heldout_ppl_sql(
        bucket, "SELECT * FROM heldout_big_mat"
    ))


QUERIES["bigram_heldout_perplexity"] = bigram_heldout_perplexity
ORACLE["bigram_heldout_perplexity"] = _heldout_ppl_sql(
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))"
    " AS INTEGER) % 100",
    "WITH toks_rel AS (SELECT doc_id, source, pos, term FROM ("
    "SELECT doc_id, source, unnest(string_split(text, ' ')) AS term, "
    "generate_subscripts(string_split(text, ' '), 1) AS pos"
    " FROM documents)) " + _HELDOUT_BIG_BODY,
    mat="MATERIALIZED ",
)


# --- term burstiness (Church-Gale) -------------------------------------------

BURST_MIN_DF = 5  # ignore ultra-rare terms: burstiness needs df support
BURST_TOP = 25


def _burstiness_sql(split_tokens: str) -> str:
    return f"""
        WITH tok AS (
            SELECT doc_id, t AS term FROM ({split_tokens})
            WHERE t <> ''
        ),
        tf AS (
            SELECT term, doc_id, CAST(count(*) AS BIGINT) AS f
            FROM tok GROUP BY term, doc_id
        ),
        st AS (
            SELECT term,
                   CAST(count(*) AS BIGINT) AS df,
                   CAST(sum(f) AS BIGINT) AS cf,
                   CAST(max(f) AS BIGINT) AS max_tf
            FROM tf GROUP BY term
        )
        SELECT term, df, cf,
               {R("cf * 1e0 / df", 4)} AS burstiness,
               max_tf
        FROM st
        WHERE df >= {BURST_MIN_DF}
        ORDER BY {R("cf * 1e0 / df", 4)} DESC, term
        LIMIT {BURST_TOP}
    """


def term_burstiness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale term burstiness (CompLing 1995 "Poisson mixtures"):
    cf/df — mean occurrences per CONTAINING document. Function words sit
    near their corpus-wide Poisson rate; topical/template terms "burst"
    (a doc that mentions them does so repeatedly). The retrieval-theory
    diagnostic behind why plain tf overweights bursty terms (and why
    BM25 saturates tf) — and, in a training corpus, a template/boiler-
    plate detector that df alone misses.

    Scale shape: one tokenize-explode pass, two grouped counts
    (term x doc, then term), TakeOrdered top-k on the rounded ratio."""
    load_tables(spark, sf_dir)
    return spark.sql(_burstiness_sql(
        "SELECT doc_id, explode(split(text, ' ')) AS t FROM documents"
    ))


QUERIES["term_burstiness_topk"] = term_burstiness_topk
ORACLE["term_burstiness_topk"] = _burstiness_sql(
    "SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents"
)


# --- Kneser-Ney held-out perplexity -------------------------------------------
KN_DISCOUNT = "0.75e0"  # the classic fixed absolute discount


def _kn_ppl_sql(big_src: str, bc_src: str, mat: str = "") -> str:
    """Held-out perplexity of an INTERPOLATED KNESER-NEY bigram LM (Kneser
    & Ney, ICASSP 1995; Chen & Goodman, Harvard TR-10-98 eq. 4.28), the
    standard smoothing that add-one (bigram_heldout_perplexity) badly
    underperforms:

        P(w2|w1) = max(c12 - D, 0)/c1  +  D * N1+(w1,.)/c1 * Pcont(w2)
        Pcont(w2) = (N1+(., w2) + 1) / (B + V)

    where N1+(w1,.) = distinct continuations of w1, N1+(.,w2) = distinct
    histories of w2, B = distinct train bigrams, V = train vocab. The +1/+V
    floor on the continuation distribution keeps unseen words finite (the
    open-vocabulary fix); an unseen history backs off fully to Pcont.
    Same md5 90/5/5 split as the add-one twin, so the two perplexities are
    directly comparable per source."""
    return f"""
        WITH big AS {mat}(
            {big_src}
        ),
        bc AS {mat}(
            {bc_src}
        ),
        uc AS (
            SELECT w1, sum(c12) AS c1, count(*) AS n1r FROM bc GROUP BY w1
        ),
        lc AS (SELECT w2, count(*) AS n1l FROM bc GROUP BY w2),
        tot AS (
            SELECT count(*) AS b, count(DISTINCT w2) AS v FROM bc
        ),
        s AS (
            SELECT g.source,
                   CASE WHEN u.c1 IS NULL
                        THEN (coalesce(l.n1l, 0) + 1e0) / (t.b + t.v)
                        ELSE greatest(coalesce(c.c12, 0) - {KN_DISCOUNT},
                                      0e0) / u.c1
                             + {KN_DISCOUNT} * u.n1r / u.c1
                               * (coalesce(l.n1l, 0) + 1e0) / (t.b + t.v)
                   END AS p,
                   CASE WHEN c.c12 IS NULL THEN 1 ELSE 0 END AS oov
            FROM big g
            LEFT JOIN bc c ON c.w1 = g.w1 AND c.w2 = g.w2
            LEFT JOIN uc u ON u.w1 = g.w1
            LEFT JOIN lc l ON l.w2 = g.w2
            CROSS JOIN tot t
            WHERE NOT g.is_train
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_scored,
               {R("sum(oov) * 1e0 / count(*)", 4)} AS oov_bigram_rate,
               {R("avg(-ln(p)) / ln(2e0)", 4)} AS cross_entropy_bits,
               {R("pow(2e0, avg(-ln(p)) / ln(2e0))", 2)} AS perplexity
        FROM s GROUP BY source ORDER BY source
    """


_KN_BC_BODY = ("SELECT w1, w2, count(*) AS c12 FROM big "
               "WHERE is_train GROUP BY w1, w2")


def kneser_ney_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out interpolated Kneser-Ney bigram perplexity per source (see
    _kn_ppl_sql) — the proper-smoothing companion to
    bigram_heldout_perplexity's add-one baseline.

    Scale shape: the tagged bigram stream is materialized once (it feeds
    the count table and the scoring join), and the bigram count table is
    materialized once more (it feeds FOUR readers: right/left continuation
    counts, the totals row, and the scoring join — CTE inlining would
    replay the corpus-scale groupBy per reader). Everything downstream of
    bc is bounded by the distinct-bigram count; the totals row broadcasts."""
    load_tables(spark, sf_dir)
    spark.sql(
        "SELECT /*+ REPARTITION */ doc_id, source, p.pos, p.col AS term "
        "FROM documents LATERAL VIEW posexplode(split(text, ' ')) p AS pos,"
        " col"
    ).createOrReplaceTempView("toks_rel")
    bucket = (
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)"
        " AS INT) % 100"
    )
    materialize(spark.sql(
        _HELDOUT_BIG_BODY.format(bucket=bucket)
    )).createOrReplaceTempView("kn_big_mat")
    materialize(spark.sql(
        _KN_BC_BODY.replace("FROM big", "FROM kn_big_mat")
    )).createOrReplaceTempView("kn_bc_mat")
    return spark.sql(_kn_ppl_sql(
        "SELECT * FROM kn_big_mat", "SELECT * FROM kn_bc_mat"
    ))


QUERIES["kneser_ney_heldout_perplexity"] = kneser_ney_heldout_perplexity
ORACLE["kneser_ney_heldout_perplexity"] = _kn_ppl_sql(
    ("WITH toks_rel AS (SELECT doc_id, source, pos, term FROM ("
     "SELECT doc_id, source, unnest(string_split(text, ' ')) AS term, "
     "generate_subscripts(string_split(text, ' '), 1) AS pos"
     " FROM documents)) " + _HELDOUT_BIG_BODY).format(
        bucket="CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1,"
               " 4)) AS INTEGER) % 100"
    ),
    _KN_BC_BODY,
    mat="MATERIALIZED ",
)


# --- per-document character entropy --------------------------------------------


def _char_entropy_sql(chars_src: str) -> str:
    """Shannon entropy (bits) of each document's CHARACTER distribution —
    the compressibility proxy (Shannon, BSTJ 1948 §7's english-text
    estimates): natural text sits around 4 bits/char over a small
    alphabet, template/boilerplate junk falls far below, noise approaches
    log2(alphabet size). The cheap pre-filter that pairs with
    doc_repetition_scores (token level) at character granularity."""
    return f"""
        WITH ch AS (
            {chars_src}
        ),
        cc AS (
            SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c
        ),
        tot AS (
            SELECT doc_id, sum(n) AS nc FROM cc GROUP BY doc_id
        )
        SELECT cc.doc_id,
               CAST(t.nc AS BIGINT) AS n_chars,
               CAST(count(*) AS BIGINT) AS distinct_chars,
               {R("-sum(cc.n * 1e0 / t.nc * log2(cc.n * 1e0 / t.nc))", 4)}
                   AS char_entropy_bits
        FROM cc JOIN tot t ON t.doc_id = cc.doc_id
        GROUP BY cc.doc_id, t.nc
        ORDER BY cc.doc_id
    """


# The Arrow-batch kernel lives in its own module so pickle-by-value ships
# only the kernel, not this whole module (see _entropy_kernel.py); the
# re-export keeps the historical import path for tests.
from database_toolbox_spark.operators._entropy_kernel import (  # noqa: E402
    _char_entropy_batch,
)

_KERNEL_REGISTERED = False


def _register_entropy_kernel_by_value() -> None:
    """Idempotent: register the kernel MODULE for pickle-by-value once per
    process (workers may not have the repo on sys.path; round-9 ADVICE —
    the per-invocation whole-module registration shipped STOPWORDS and
    every SQL builder with each UDF)."""
    global _KERNEL_REGISTERED
    if _KERNEL_REGISTERED:
        return
    from pyspark import cloudpickle  # noqa: PLC0415

    from database_toolbox_spark.operators import (  # noqa: PLC0415
        _entropy_kernel,
    )

    cloudpickle.register_pickle_by_value(_entropy_kernel)
    _KERNEL_REGISTERED = True


def char_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character-distribution Shannon entropy (see
    _char_entropy_sql for the metric's rationale; the DuckDB oracle keeps
    that explode/GROUP BY spelling, so parity cross-checks this plan).

    Scale shape: SHUFFLE-FREE and strictly O(corpus bytes) — one
    Arrow-vectorized pandas UDF computes each document's histogram and
    entropy inside its own row (numpy bincount per batch,
    `_char_entropy_batch`); the plan is scan → project(UDF) →
    sort-for-display, embarrassingly parallel at any corpus size.
    Round-8 rewrite: the previous spelling exploded one row per CHARACTER
    and re-grouped by (doc_id, char) across a shuffle — measured 15.27x
    at 10x rows (SCALING.md r6). Built-in alternatives were measured
    before choosing the UDF: per-distinct-char `replace` folds are
    O(alphabet × bytes) (16.5x at 10x — the synthetic corpus grows both
    factors) and a sorted run-length `aggregate` fold is interpreted
    per-char (9.5 s at ~sf1 vs 3.0 s for this UDF). Measured here:
    4.97x time at 13.3x corpus bytes (sub-linear; asserted by
    scripts/scaling_sf1.py mode entlin)."""
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    _register_entropy_kernel_by_value()
    ent = F.pandas_udf(
        _char_entropy_batch,
        T.StructType(
            [
                T.StructField("n_chars", T.LongType()),
                T.StructField("distinct_chars", T.LongType()),
                T.StructField("char_entropy_bits", T.DoubleType()),
            ]
        ),
    )
    load_tables(spark, sf_dir)
    return (
        spark.table("documents")
        .where(F.length("text") > 0)
        .select("doc_id", ent("text").alias("s"))
        .select("doc_id", "s.n_chars", "s.distinct_chars",
                "s.char_entropy_bits")
        .orderBy("doc_id")
    )


QUERIES["char_entropy_scores"] = char_entropy_scores
ORACLE["char_entropy_scores"] = _char_entropy_sql(
    "SELECT doc_id, substr(text, u.i, 1) AS c FROM documents, "
    "unnest(range(1, length(text) + 1)) AS u(i)"
)


# --- RAKE keyword extraction -----------------------------------------------------
RAKE_TOP = 20


def _rake_sql(ns_src: str, agg_phrase: str, mat: str = "") -> str:
    """RAKE keyword extraction (Rose/Engel/Cramer/Cowley, "Automatic
    Keyword Extraction from Individual Documents", 2010): candidate
    phrases are maximal stopword-free word runs; with freq(w) = w's
    occurrences across phrases and deg(w) = sum of the lengths of the
    phrases containing each occurrence (the co-occurrence degree,
    self included), word score = deg/freq and a phrase scores the sum of
    its words' scores (with multiplicity — the paper's convention).
    Identical phrase TEXTS share one global score, so the top list
    groups by text."""
    return f"""
        WITH ns AS {mat}(
            {ns_src}
        ),
        plen AS (
            SELECT doc_id, grp, count(*) AS len
            FROM ns GROUP BY doc_id, grp
        ),
        wstats AS (
            SELECT ns.w, count(*) AS freq, sum(p.len) AS deg
            FROM ns JOIN plen p
              ON p.doc_id = ns.doc_id AND p.grp = ns.grp
            GROUP BY ns.w
        ),
        pscore AS (
            SELECT ns.doc_id, ns.grp,
                   {agg_phrase} AS phrase,
                   sum(ws.deg * 1e0 / ws.freq) AS score,
                   count(*) AS n_words
            FROM ns JOIN wstats ws ON ws.w = ns.w
            GROUP BY ns.doc_id, ns.grp
        )
        SELECT phrase,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(max(n_words) AS BIGINT) AS n_words,
               {R("max(score)", 4)} AS rake_score
        FROM pscore
        WHERE n_words >= 2
        GROUP BY phrase
        ORDER BY {R("max(score)", 4)} DESC, phrase
        LIMIT {RAKE_TOP}
    """


_RAKE_NS_SPARK = """
            SELECT doc_id, p.pos, p.col AS w,
                   p.pos - row_number() OVER (PARTITION BY doc_id
                                              ORDER BY p.pos) AS grp
            FROM documents
            LATERAL VIEW posexplode(split(text, ' ')) p AS pos, col
            WHERE p.col NOT IN ({sw}) AND p.col <> ''
"""
_RAKE_NS_DUCK = """
            SELECT doc_id, pos, w,
                   pos - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS w,
                       generate_subscripts(string_split(text, ' '), 1)
                           AS pos
                FROM documents
            )
            WHERE w NOT IN ({sw}) AND w <> ''
"""


def rake_keyword_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{RAKE_TOP} multi-word RAKE keyphrases over the corpus (see
    _rake_sql) — the unsupervised keyword extractor next to tfidf/BM25
    (which rank TERMS; RAKE ranks PHRASES and needs no document
    frequency model).

    Scale shape: the stopword-split token-run relation is materialized
    once (it feeds phrase lengths, word stats and phrase assembly —
    inlining would replay the corpus explode 3x); everything else is
    keyed grouped aggs plus one ordered string_agg per phrase (bounded by
    phrase length). The WHERE on the EXPLODED stream keeps stopwords out
    of the shuffle entirely."""
    load_tables(spark, sf_dir)
    sw = _sql_list(STOPWORDS)
    materialize(spark.sql(
        "SELECT * FROM (" + _RAKE_NS_SPARK.format(sw=sw) + ") x"
    )).createOrReplaceTempView("rake_ns_v")
    return spark.sql(_rake_sql(
        "SELECT * FROM rake_ns_v",
        "listagg(ns.w, ' ') WITHIN GROUP (ORDER BY ns.pos)",
    ))


QUERIES["rake_keyword_scores"] = rake_keyword_scores
ORACLE["rake_keyword_scores"] = _rake_sql(
    _RAKE_NS_DUCK.format(sw=_sql_list(STOPWORDS)),
    "string_agg(ns.w, ' ' ORDER BY ns.pos)",
    mat="MATERIALIZED ",
)


# --- TextRank keyword scores -----------------------------------------------------
#
# Mihalcea & Tarau (EMNLP 2004): PageRank over the word co-occurrence
# graph (adjacent-token edges, symmetric), damping 0.85. Computed like the
# other spectral ops here: build the dense Google matrix over a BOUNDED
# candidate set (top TEXTRANK_V words by frequency — the standard
# candidate filter, and the reason the matrix stays broadcast-sized at any
# corpus scale), then matrix-squaring to G^(2^TEXTRANK_SQUARINGS), whose
# every row is the PageRank vector past mixing.

TEXTRANK_V = 25
TEXTRANK_SQUARINGS = 5  # G^32
TEXTRANK_TOP = 15


def _textrank_g0_sql(tok_src: str) -> str:
    v = TEXTRANK_V
    return f"""
        WITH toks AS ({tok_src}),
        wc AS (SELECT term, count(*) AS n FROM toks GROUP BY term),
        cand AS (
            SELECT term FROM (
                -- bounded window: wc is the grouped vocabulary relation,
                -- consumed only through the rn <= head filter below
                SELECT term,
                       CAST(row_number() OVER (PARTITION BY (hash(term) % 1)
                            ORDER BY n DESC, term) AS BIGINT) AS rn
                FROM wc
            ) x WHERE rn <= {v}
        ),
        adj AS (
            SELECT doc_id, pos, term FROM toks
            WHERE term IN (SELECT term FROM cand)
        ),
        bi AS (
            SELECT t1.term AS a, t2.term AS b, count(*) AS n
            FROM adj t1 JOIN adj t2
              ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
            WHERE t1.term <> t2.term
            GROUP BY t1.term, t2.term
        ),
        sym AS (
            SELECT a, b, sum(n) AS n FROM (
                SELECT a, b, n FROM bi
                UNION ALL
                SELECT b AS a, a AS b, n FROM bi
            ) u GROUP BY a, b
        ),
        rs AS (SELECT a, sum(n) AS tot FROM sym GROUP BY a),
        nv AS (SELECT count(*) * 1e0 AS nn FROM cand)
        SELECT ca.term AS i, cb.term AS j,
               0.15e0 / nv.nn
               + 0.85e0 * (CASE WHEN r.tot IS NULL THEN 1e0 / nv.nn
                                ELSE coalesce(s.n / r.tot, 0e0) END) AS v
        FROM cand ca CROSS JOIN cand cb CROSS JOIN nv
        LEFT JOIN rs r ON r.a = ca.term
        LEFT JOIN sym s ON s.a = ca.term AND s.b = cb.term
    """


_TEXTRANK_FINAL_SQL = f"""
    SELECT j AS term, {{score}} AS textrank
    FROM {{gk}}
    WHERE i = (SELECT min(i) FROM {{gk}})
    ORDER BY floor(v * 1e6 + 0.501e0) DESC, term
    LIMIT {TEXTRANK_TOP}
"""

_TEXTRANK_SPARK_TOKS = (
    "SELECT /*+ REPARTITION */ doc_id, p.pos, p.col AS term "
    "FROM documents LATERAL VIEW posexplode(split(text, ' ')) p AS pos, col"
)
_TEXTRANK_DUCK_TOKS = (
    "SELECT doc_id, u.i AS pos, toks[u.i] AS term "
    "FROM (SELECT doc_id, string_split(text, ' ') AS toks "
    "      FROM documents), "
    "     unnest(range(1, len(toks) + 1)) AS u(i)"
)


def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TEXTRANK_TOP} TextRank keywords: PageRank (damping 0.85) on
    the symmetric adjacent-word graph over the top-{TEXTRANK_V} candidate
    vocabulary, via {TEXTRANK_SQUARINGS} materialized matrix squarings.

    Scale shape: one token-adjacency pass builds the co-occurrence counts;
    the Google matrix is dense over the FIXED candidate set (V^2 rows,
    broadcast-sized forever), each squaring a V^2 x V^2 string-keyed join
    materialized to keep lineage flat — identical machinery to the Markov
    stationary distribution, anchored against numpy in tests."""
    from database_toolbox_spark.operators.profile import (  # noqa: PLC0415
        _PCA_SQ_SQL,
    )

    load_tables(spark, sf_dir)
    materialize(
        spark.sql(_textrank_g0_sql(_TEXTRANK_SPARK_TOKS))
    ).createOrReplaceTempView("txr_g0")
    for k in range(TEXTRANK_SQUARINGS):
        materialize(
            spark.sql(_PCA_SQ_SQL.format(prev=f"txr_g{k}"))
        ).createOrReplaceTempView(f"txr_g{k + 1}")
    return spark.sql(_TEXTRANK_FINAL_SQL.format(
        gk=f"txr_g{TEXTRANK_SQUARINGS}", score=R("v", 6)
    ))


def _textrank_oracle() -> str:
    from database_toolbox_spark.operators.profile import (  # noqa: PLC0415
        _PCA_SQ_SQL,
    )

    parts = [f"g0 AS MATERIALIZED ({_textrank_g0_sql(_TEXTRANK_DUCK_TOKS)})"]
    for k in range(TEXTRANK_SQUARINGS):
        parts.append(f"""g{k + 1} AS MATERIALIZED (
        {_PCA_SQ_SQL.format(prev=f"g{k}")})""")
    body = ",\n    ".join(parts)
    final = _TEXTRANK_FINAL_SQL.format(
        gk=f"g{TEXTRANK_SQUARINGS}", score=R("v", 6)
    )
    return f"WITH {body}\n{final}"


QUERIES["textrank_keywords"] = textrank_keywords
ORACLE["textrank_keywords"] = _textrank_oracle()


# --- pseudo-relevance-feedback query expansion ------------------------------------
# Two-stage retrieval (Rocchio, The SMART Retrieval System 1971; RM3-style
# feedback): stage 1 ranks with the original query, the top PRF_FB_DOCS
# docs are ASSUMED relevant, their strongest non-query non-stopword terms
# join the query at weight PRF_EXP_W, and stage 2 re-ranks with the
# weighted expansion. Both stages share ONE corpus-wide (doc, term) tf
# build — the inverted-index stand-in — so expansion costs a second
# scoring pass over the index, never a second text scan.
PRF_FB_DOCS = 5
PRF_EXP_TERMS = 5
PRF_EXP_W = 0.5
PRF_TOP = 10
# Pre-expansion ranks are reported only for docs inside this head; a doc
# pulled into the final top-{PRF_TOP} from beyond it shows NULL base_rank.
# This bounds BOTH ranking windows to TakeOrdered heads instead of global
# sorts over every matching doc — the shape that survives a 100 TB corpus.
PRF_BASE_HEAD = 100


def _prf_q0() -> str:
    """The original query terms as a UNION-of-literals relation (built in
    Python so both dialects receive identical text)."""
    terms = [t.strip() for t in _BM25_TERMS.split(",")]
    return " UNION ALL ".join(f"SELECT {t} AS term" for t in terms)


def _prf_sql(n_words: str, tf_body: str, sw: str,
             materialized: str = "") -> str:
    return f"""
        WITH dl AS (SELECT doc_id, {n_words} AS dl FROM documents),
        stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
        tf AS {materialized} (
            {tf_body}
        ),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        contrib AS (
            SELECT t.doc_id, t.term,
                   ln(1e0 + (s.n_docs - d.df + 0.5e0) / (d.df + 0.5e0))
                   * (t.tf * ({_BM25_K1} + 1e0))
                   / (t.tf + {_BM25_K1} * (1e0 - {_BM25_B}
                      + {_BM25_B} * l.dl * s.n_docs * 1e0 / s.sum_dl))
                       AS c
            FROM tf t
            JOIN df d ON d.term = t.term
            JOIN dl l ON l.doc_id = t.doc_id
            CROSS JOIN stats s
            WHERE t.term IN ({_BM25_TERMS})
               OR (t.term NOT IN ({sw}))
        ),
        s1 AS (
            SELECT doc_id, sum(c) AS score FROM contrib
            WHERE term IN ({_BM25_TERMS}) GROUP BY doc_id
        ),
        fb AS (
            SELECT doc_id FROM s1
            ORDER BY {BM25_SCORE_R} DESC, doc_id LIMIT {PRF_FB_DOCS}
        ),
        exp_terms AS (
            SELECT term FROM (
                SELECT t.term, sum(t.tf) AS fbtf
                FROM tf t JOIN fb ON fb.doc_id = t.doc_id
                WHERE t.term NOT IN ({_BM25_TERMS})
                  AND t.term NOT IN ({sw})
                GROUP BY t.term
            ) e
            ORDER BY fbtf DESC, term LIMIT {PRF_EXP_TERMS}
        ),
        qexp AS (
            SELECT term, 1e0 AS w FROM ({_prf_q0()}) q0
            UNION ALL
            SELECT term, {PRF_EXP_W}e0 AS w FROM exp_terms
        ),
        s2 AS (
            SELECT c.doc_id, sum(c.c * q.w) AS score
            FROM contrib c JOIN qexp q ON q.term = c.term
            GROUP BY c.doc_id
        ),
        s1h AS (
            SELECT doc_id, score FROM s1
            ORDER BY {BM25_SCORE_R} DESC, doc_id LIMIT {PRF_BASE_HEAD}
        ),
        r1 AS (
            -- bounded window: s1h is the LIMIT-PRF_BASE_HEAD head
            SELECT doc_id,
                   row_number() OVER (PARTITION BY (hash(doc_id) % 1)
                                      ORDER BY {BM25_SCORE_R} DESC,
                                      doc_id) AS base_rank
            FROM s1h
        ),
        s2h AS (
            SELECT doc_id, score FROM s2
            ORDER BY floor(score * 10000e0 + 0.501e0) DESC, doc_id
            LIMIT {PRF_TOP}
        )
        -- bounded window: s2h is the LIMIT-PRF_TOP head
        SELECT s2h.doc_id, {R("s2h.score", 4)} AS bm25_prf,
               CAST(row_number() OVER (PARTITION BY (hash(s2h.doc_id) % 1)
                   ORDER BY
                   floor(s2h.score * 10000e0 + 0.501e0) DESC, s2h.doc_id)
                   AS BIGINT) AS prf_rank,
               CAST(r1.base_rank AS BIGINT) AS base_rank
        FROM s2h LEFT JOIN r1 ON r1.doc_id = s2h.doc_id
        ORDER BY prf_rank, s2h.doc_id LIMIT {PRF_TOP}
    """


_PRF_SPARK_TF = (
    "SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, "
    "explode(split(text, ' ')) AS term FROM documents) tk "
    "GROUP BY doc_id, term"
)
_PRF_DUCK_TF = (
    "SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, "
    "unnest(string_split(text, ' ')) AS term FROM documents) tk "
    "GROUP BY doc_id, term"
)


def prf_expanded_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with pseudo-relevance-feedback expansion (see _prf_sql):
    top-{PRF_TOP} docs under the expanded query, each with its
    pre-expansion rank so the feedback's reordering is visible — the
    two-stage shape every production retrieval stack (query expansion,
    rewriting) reduces to.

    Scale shape: the (doc, term) tf relation is the inverted index —
    MATERIALIZED once on the Spark side, AS MATERIALIZED in the oracle —
    and both scoring stages plus the feedback-term mining are joins
    against it; the text is never rescanned. The feedback relations are
    {PRF_FB_DOCS}- and {PRF_EXP_TERMS}-row bounded, and the per-term
    contribution relation is stopword-pruned before either stage reads
    it. Both ranking windows run on TakeOrdered heads (base ranks on the
    top-{PRF_BASE_HEAD} s1h head, final ranks on the top-{PRF_TOP} s2h
    head) under a declared single partition — no global sort ever sees
    the corpus-fraction match sets; a doc promoted into the final
    top-{PRF_TOP} from beyond the base head reports NULL base_rank."""
    load_tables(spark, sf_dir)
    materialize(spark.sql(_PRF_SPARK_TF)).createOrReplaceTempView(
        "prf_tf_v"
    )
    return spark.sql(_prf_sql(
        "size(split(text, ' '))",
        "SELECT * FROM prf_tf_v",
        _sql_list(STOPWORDS),
    ))


QUERIES["prf_expanded_search"] = prf_expanded_search
ORACLE["prf_expanded_search"] = _prf_sql(
    "len(string_split(text, ' '))",
    _PRF_DUCK_TF,
    _sql_list(STOPWORDS),
    materialized="MATERIALIZED",
)


# --- keyword-in-context (KWIC) snippets ---------------------------------------------
# The concordance view every corpus-exploration UI needs: for a query
# term, the matching docs with occurrence counts and a fixed-width
# character window around the FIRST occurrence. Identical SQL text in
# both dialects (instr/substr/replace agree), so snippets are
# byte-equal.
KWIC_TERM = "spark"
KWIC_RADIUS = 40  # chars either side of the match
KWIC_TOP = 15

_KWIC_SQL = f"""
    WITH hits AS (
        SELECT doc_id, source,
               instr(text, '{KWIC_TERM}') AS pos,
               CAST((length(text) - length(replace(text, '{KWIC_TERM}',
                    ''))) / {len(KWIC_TERM)} AS BIGINT) AS n_matches,
               text
        FROM documents
        WHERE instr(text, '{KWIC_TERM}') > 0
    )
    SELECT doc_id, source,
           n_matches,
           CAST(pos AS BIGINT) AS first_pos,
           substr(text,
                  CAST(greatest(1, pos - {KWIC_RADIUS}) AS INT),
                  CAST(least(pos - greatest(1, pos - {KWIC_RADIUS}),
                             {KWIC_RADIUS})
                       + {len(KWIC_TERM) + KWIC_RADIUS} AS INT)) AS snippet
    FROM hits
    ORDER BY n_matches DESC, doc_id LIMIT {KWIC_TOP}
"""


def kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{KWIC_TOP} concordance lines for '{KWIC_TERM}' (see _KWIC_SQL):
    occurrence count, first match position, and the +-{KWIC_RADIUS}-char
    context window — the keyword-in-context view, ranked by match count.

    Scale shape: one filtered scan (the WHERE pushes the contains test
    to the reader), per-row string arithmetic in codegen, TakeOrdered
    top-{KWIC_TOP} — no shuffle beyond the top-K merge, no UDF. At
    100 TB this is a map + heap-merge."""
    load_tables(spark, sf_dir)
    return spark.sql(_KWIC_SQL)


QUERIES["kwic_snippets"] = kwic_snippets
ORACLE["kwic_snippets"] = _KWIC_SQL


# --- Good-Turing frequency-of-frequencies -------------------------------------------
# Good-Turing estimation (Good, Biometrika 1953): the adjusted count
# r* = (r+1) N_{r+1} / N_r redistributes probability mass toward unseen
# events; N_1 / N is the leave-one-out estimate of the unseen-type mass
# (the missing-mass bound every open-vocabulary LM needs). The
# frequency-of-frequencies companion to the Kneser-Ney op — KN uses
# fixed discounts, GT derives them from the count histogram itself.
GT_MAX_R = 10


_GT_SQL = f"""
    WITH tf AS (
        SELECT term, count(*) AS r FROM ({{TOK}}) tk GROUP BY term
    ),
    totals AS (
        SELECT sum(r) AS n_tokens, count(*) AS n_types FROM tf
    ),
    nr AS (
        SELECT r, count(*) AS n_r FROM tf
        WHERE r <= {GT_MAX_R + 1}
        GROUP BY r
    ),
    grid AS ({{GRID}})
    SELECT g.r,
           CAST(coalesce(a.n_r, 0) AS BIGINT) AS n_r,
           CAST(coalesce(b.n_r, 0) AS BIGINT) AS n_r_plus_1,
           {R("CASE WHEN coalesce(a.n_r, 0) > 0 THEN"
              " (g.r + 1e0) * coalesce(b.n_r, 0) * 1e0 / a.n_r"
              " ELSE 0e0 END", 4)} AS r_star,
           {R("coalesce(a.n_r, 0) * g.r * 1e0 / t.n_tokens", 6)}
               AS mass_at_r,
           {R("coalesce((SELECT n_r FROM nr WHERE r = 1), 0)"
              " * 1e0 / t.n_tokens", 6)} AS unseen_mass_p0,
           CAST(t.n_types AS BIGINT) AS n_types
    FROM grid g
    LEFT JOIN nr a ON a.r = g.r
    LEFT JOIN nr b ON b.r = g.r + 1
    CROSS JOIN totals t
    ORDER BY g.r
"""


def good_turing_discounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing count table for r = 1..{GT_MAX_R} over the token
    stream (see _GT_SQL): frequency-of-frequencies N_r, the adjusted
    count r*, the probability mass held at each r, and the unseen-type
    mass N_1/N — the smoothing table an LM derives its discounts from.

    Scale shape: one combiner-friendly token count (vocab-bounded by
    Heaps' law), one {GT_MAX_R + 1}-bucket grouped count over the term
    relation, then joins on the {GT_MAX_R}-row grid. The corpus is
    scanned once; output is O(1)."""
    load_tables(spark, sf_dir)
    return spark.sql(
        _GT_SQL
        .replace("{TOK}",
                 "SELECT explode(split(text, ' ')) AS term FROM documents")
        .replace("{GRID}", f"SELECT explode(sequence(1, {GT_MAX_R})) AS r")
    )


QUERIES["good_turing_discounts"] = good_turing_discounts
ORACLE["good_turing_discounts"] = (
    _GT_SQL
    .replace("{TOK}",
             "SELECT unnest(string_split(text, ' ')) AS term FROM documents")
    .replace("{GRID}", f"SELECT unnest(range(1, {GT_MAX_R + 1})) AS r")
)
