"""Training-data preparation operators (BASELINE.json north star: "the
operations a large-scale training-data pipeline would need") — document
chunking, sequence packing, vocabulary building, source mixing, PII
scrubbing.

All pure built-in SQL (token arrays + window functions), embarrassingly
parallel except the explicitly-sequential packing which runs on aggregated
per-doc rows (|docs| rows, not |tokens|).

Determinism: no RNG anywhere — chunk boundaries, pack bins, vocab ids, and
mix positions all derive from data + fixed constants, so the DuckDB oracle
replays them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from database_toolbox_spark.operators._oracle import R
from database_toolbox_spark.session import (
    load_table,
    load_tables,
    local_frame,
    materialize,
)

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap
PACK_BUDGET = 2048  # chars per packed sequence
VOCAB_SIZE = 30


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token-window chunking with overlap (stride < size): the
    standard pretraining chunker. Chunk k covers tokens
    [k·stride, k·stride + size)."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
        WITH t AS (SELECT /*+ REPARTITION */ doc_id, split(text, ' ') AS w
                   FROM documents),
        chunks AS (
            SELECT doc_id,
                   explode(sequence(0,
                       CAST(greatest(
                           ceil((size(w) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}e0),
                           0) AS INT))) AS chunk_idx,
                   w
            FROM t
        )
        SELECT doc_id, chunk_idx,
               array_join(slice(w, chunk_idx * {CHUNK_STRIDE} + 1,
                                {CHUNK_TOKENS}), ' ') AS chunk_text,
               size(slice(w, chunk_idx * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS}))
                   AS n_tokens
        FROM chunks
        ORDER BY doc_id, chunk_idx
    """)


PACK_SHARDS = 32  # range shards for the two-pass prefix sum; raise with
# cluster size at scale — the only cross-shard state is one BIGINT per shard


def pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential sample packing: fill fixed-size context windows with docs
    in deterministic order (running char total → bin = cumlen div budget).

    Two-pass distributed prefix sum — the 100 TB shape: docs are RANGE-
    sharded on doc_id (order-preserving), pass 1 computes each shard's char
    total (one grouped agg), shard offsets come from a tiny triangular
    self-join over the ≤PACK_SHARDS totals (no unpartitioned window
    anywhere), pass 2 adds a PARTITIONed running window + broadcast offset.
    Identical output to the sequential global-window spelling, which remains
    the (engine-local) oracle."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
        WITH m AS (
            SELECT CAST(ceil((max(doc_id) + 1) / {PACK_SHARDS}e0) AS BIGINT)
                   AS w
            FROM documents
        ),
        d AS (
            SELECT doc_id, n_chars, doc_id div w AS shard
            FROM documents, m
        ),
        tot AS (
            SELECT shard, sum(n_chars) AS shard_sum FROM d GROUP BY shard
        ),
        off AS (
            SELECT a.shard,
                   CAST(coalesce(sum(b.shard_sum), 0) AS BIGINT) AS shard_off
            FROM tot a LEFT JOIN tot b ON b.shard < a.shard
            GROUP BY a.shard
        ),
        p AS (
            SELECT doc_id, n_chars, shard,
                   sum(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS local_cum
            FROM d
        ),
        g AS (
            SELECT p.doc_id, p.n_chars,
                   p.local_cum + o.shard_off AS cum_chars
            FROM p JOIN off o ON p.shard = o.shard
        )
        SELECT doc_id, n_chars,
               CAST((cum_chars - n_chars) / {PACK_BUDGET} AS BIGINT) AS pack_bin,
               cum_chars - n_chars
                   - CAST((cum_chars - n_chars) / {PACK_BUDGET} AS BIGINT)
                     * {PACK_BUDGET} AS offset_in_bin
        FROM g ORDER BY doc_id
    """)


def build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: top-K terms by document frequency with
    deterministic ids (df desc, term asc).

    `WHERE row_number() <= K` over all terms is a top-K in disguise — the
    rewrite sorts ONLY K rows (TakeOrderedAndProject: per-partition heaps,
    merge K) and then ranks the bounded result, instead of a global window
    over the whole term space. Identical output; the oracle keeps the
    row_number spelling."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from database_toolbox_spark.functions import bounded_rank_window  # noqa: PLC0415

    load_tables(spark, sf_dir)
    df = spark.sql("""
        WITH toks AS (
            SELECT /*+ REPARTITION */ doc_id, explode(split(text, ' ')) AS term
            FROM documents
        )
        SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
    """)
    top = df.orderBy(F.col("df").desc(), "term").limit(VOCAB_SIZE)
    w = bounded_rank_window(F.col("term"), F.col("df").desc(), "term")
    return top.select(
        F.row_number().over(w).cast("int").alias("token_id"), "term", "df"
    ).orderBy("token_id")


def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage QA: per-source token count, out-of-vocabulary
    count, and OOV rate against the top-K vocabulary from `build_vocab`
    (the metric you check before committing a tokenizer vocab to a
    training run). Scale shape: the K-row vocab broadcasts into the token
    stream (no shuffle on the corpus side beyond the final per-source
    agg); integer sums are exact so the rounded rate is deterministic."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    load_tables(spark, sf_dir)
    vocab = build_vocab(spark, sf_dir).select("term").withColumn(
        "in_vocab", F.lit(1)
    )
    # source rides the explode — no join back to documents on the
    # token-grain stream (the only join left is the broadcast vocab)
    toks = spark.sql(
        "SELECT /*+ REPARTITION */ source, "
        "explode(split(text, ' ')) AS term FROM documents"
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .withColumn("oov_rate", F.expr(R("n_oov * 1e0 / n_tokens", 6)))
        .orderBy("source")
    )


def mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source interleaving (dataset mixing without RNG): rank
    docs within each source (PARTITIONed window), then take round-robin
    order (rank, source) — the epoch-stable shuffle used when blending
    corpora. First 100 mix positions.

    The global `row_number() <= 100` is a top-100 in disguise: sort only
    100 rows (TakeOrderedAndProject), then rank the bounded result —
    no corpus-wide window. Identical output; oracle keeps the window
    spelling."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from database_toolbox_spark.functions import bounded_rank_window  # noqa: PLC0415

    load_tables(spark, sf_dir)
    ranked = spark.sql("""
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
    """)
    top = ranked.orderBy("rn", "source").limit(100)
    w = bounded_rank_window(F.col("source"), "rn", "source")
    return top.select(
        F.row_number().over(w).cast("int").alias("mix_pos"),
        "doc_id",
        "source",
    ).orderBy("mix_pos")


def pii_scrub_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: redact email/URL/long-digit patterns, report match
    counts and the scrubbed length. (The fixture corpus is clean word soup,
    so counts are zero here — the regex machinery is additionally unit-
    tested on synthetic rows in tests/test_pipeline.py.)"""
    load_tables(spark, sf_dir)
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    url = r"https?://[^\\s]+"
    digits = r"\\d{6,}"
    return spark.sql(f"""
        SELECT doc_id,
               CAST(regexp_count(text, '{email}') AS INT)  AS n_emails,
               CAST(regexp_count(text, '{url}') AS INT)    AS n_urls,
               CAST(regexp_count(text, '{digits}') AS INT) AS n_long_digits,
               length(regexp_replace(regexp_replace(regexp_replace(text,
                   '{email}', '<EMAIL>'),
                   '{url}', '<URL>'),
                   '{digits}', '<NUM>')) AS scrubbed_len
        FROM documents ORDER BY doc_id
    """)


def _funnel_sql(ntoks_expr: str) -> str:
    """Corpus-cleaning funnel: quality gate → exact dedup (keep min doc per
    content hash) → per-source accounting of the attrition at each stage.
    ntoks_expr renders token count per dialect."""
    return f"""
        WITH base AS (
            SELECT doc_id, source, text, n_chars, {ntoks_expr} AS n_toks
            FROM documents
        ),
        q AS (SELECT * FROM base WHERE n_chars >= 50 AND n_toks >= 5),
        keep AS (SELECT min(doc_id) AS k_id FROM q GROUP BY md5(text)),
        clean AS (SELECT q.* FROM q JOIN keep ON q.doc_id = keep.k_id),
        agg_in AS (SELECT source, count(*) AS n_input FROM base GROUP BY source),
        agg_q  AS (SELECT source, count(*) AS n_quality FROM q GROUP BY source),
        agg_c  AS (SELECT source, count(*) AS n_clean,
                          -- CAST: DuckDB SUM(INT) is HUGEINT (driver-hash
                          -- hazard); no-op on the Spark side
                          CAST(sum(n_toks) AS BIGINT) AS tokens_kept
                   FROM clean GROUP BY source)
        SELECT i.source, i.n_input,
               coalesce(a.n_quality, 0) AS n_quality,
               coalesce(c.n_clean, 0) AS n_clean,
               coalesce(c.tokens_kept, 0) AS tokens_kept
        FROM agg_in i
        LEFT JOIN agg_q a ON i.source = a.source
        LEFT JOIN agg_c c ON i.source = c.source
        ORDER BY i.source
    """


def corpus_cleaning_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus cleaning as ONE declarative plan: length/
    token quality gate, exact content dedup (keep the smallest doc_id per
    md5), and the per-source attrition funnel — the accounting view every
    data pipeline publishes. Each stage is a CTE over the previous one, so
    Catalyst fuses the whole funnel into one job (no intermediate
    materialization)."""
    load_tables(spark, sf_dir)
    return spark.sql(_funnel_sql("size(split(text, ' '))"))


def _importance_sql(ntoks_expr: str, bucket_expr: str) -> str:
    """Importance sampling: keep probability proportional to document
    length (token-budget-aware upsampling of long documents), decided by a
    deterministic md5 bucket — reproducible across engines, epochs, and
    partitionings, unlike rand()."""
    return f"""
        WITH base AS (
            SELECT doc_id, source, {ntoks_expr} AS n_toks,
                   {bucket_expr} AS bucket
            FROM documents
        ),
        mx AS (SELECT max(n_toks) AS max_toks FROM base),
        sampled AS (
            SELECT b.* FROM base b, mx
            WHERE b.bucket * 1e0 / 10000 < b.n_toks * 1e0 / mx.max_toks
        ),
        agg_in AS (
            SELECT source, count(*) AS n_input,
                   floor(avg(n_toks) * 100 + 0.501e0) / 100e0 AS avg_toks_all
            FROM base GROUP BY source
        ),
        agg_s AS (
            SELECT source, count(*) AS n_kept,
                   floor(avg(n_toks) * 100 + 0.501e0) / 100e0 AS avg_toks_kept
            FROM sampled GROUP BY source
        )
        SELECT i.source, i.n_input,
               coalesce(s.n_kept, 0) AS n_kept,
               i.avg_toks_all,
               s.avg_toks_kept
        FROM agg_in i LEFT JOIN agg_s s ON i.source = s.source
        ORDER BY i.source
    """


def importance_sampled_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional importance sampling with deterministic md5
    acceptance — per source, the kept fraction and the expected upward
    shift of mean tokens among kept docs."""
    load_tables(spark, sf_dir)
    return spark.sql(_importance_sql(
        "size(split(text, ' '))",
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)"
        " AS INT) % 10000",
    ))


_BPE_TOP_K = 16384  # candidate pairs collected per round (still KBs-MBs)
_BPE_TOP_TRI = 32768  # trigram contexts collected per round (guess quality)
_BPE_BATCH_CAP = 50  # merges applied per projection (apply_bpe's batch)
# Sizing note (round-5 depth study): at 2048/8192 a realistic 30k-word Zipf
# vocabulary truncated almost every speculative batch — >2048 distinct pairs
# means `whole` is False and the K+1-th count (the uncollected-pair upper
# bound) sits so close to the top counts that _bpe_verify_prefix's
# `bc <= floor` guard fires after ~2 steps (measured: 832 rounds for 2000
# merges, 2.4 merges/round). 8x larger bounded collects push the floor far
# below the active merge frontier; the collects stay driver-trivial.


def _bpe_step_deltas(cur, batch):
    """Exact per-step pair-count deltas for a tentative merge batch.

    One distributed pass over the (freq, sym) word table: each word
    applies the batch's merges in rank order (left-to-right greedy, the
    classic application) and emits, per step, the frequency-weighted
    count delta of every adjacent pair the fusion destroyed or created.
    Merges in a batch are NOT symbol-disjoint — _bpe_guess deliberately
    emits chained merges like (t,h) then (th,e). The deltas are exact
    anyway because each word applies the batch's merges SEQUENTIALLY in
    rank order, including merges that consume symbols created by earlier
    steps, so a word's step-i deltas are exactly what sequential BPE
    would observe after steps 0..i-1. Do NOT reorder or parallelize the
    per-word step loop: rank order is the correctness invariant.

    Arrow-batched mapInPandas (the function body lives here so it
    pickles by value for /tmp-cwd drivers); output is a bounded
    (step, pair) aggregate collected to the driver."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    merge_list = [(a, b, ab) for a, b, ab, _ in batch]

    def gen(batches):
        from collections import Counter  # noqa: PLC0415

        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            steps: list[int] = []
            pairs: list[str] = []
            ds: list[int] = []
            for sym, freq in zip(pdf["sym"], pdf["freq"]):
                syms = sym.split(" ")
                if len(syms) < 2:
                    continue
                f = int(freq)
                for step, (a, b, ab) in enumerate(merge_list):
                    if not any(
                        syms[i] == a and syms[i + 1] == b
                        for i in range(len(syms) - 1)
                    ):
                        continue
                    before = Counter(zip(syms, syms[1:]))
                    fused = []
                    i = 0
                    while i < len(syms):
                        if (
                            i < len(syms) - 1
                            and syms[i] == a
                            and syms[i + 1] == b
                        ):
                            fused.append(ab)
                            i += 2
                        else:
                            fused.append(syms[i])
                            i += 1
                    syms = fused
                    after = Counter(zip(syms, syms[1:]))
                    for p in set(before) | set(after):
                        d = after[p] - before[p]
                        if d:
                            steps.append(step)
                            pairs.append(p[0] + " " + p[1])
                            ds.append(d * f)
            yield pd.DataFrame(
                {"step": steps, "pair": pairs, "delta": ds}
            )

    rows = (
        cur.mapInPandas(gen, "step int, pair string, delta long")
        .groupBy("step", "pair")
        .agg(F.sum("delta").alias("delta"))
        .collect()
    )
    deltas: dict[int, dict[str, int]] = {}
    for r in rows:
        deltas.setdefault(r["step"], {})[r["pair"]] = int(r["delta"])
    return deltas


def _bpe_guess(cands, tris, cap):
    """Speculative merge sequence for one round: simulate sequential BPE
    on the driver over the collected EXACT pair counts, updating them
    first-order via the collected trigram contexts (merging (a,b)->ab
    consumes trigram (x,a,b): destroys pair (x,a), creates (x,ab), and
    symmetrically on the right). This lets the guess follow BPE into
    pairs CREATED mid-round — e.g. (t,h) then (th,e) — which any static
    top-of-table batch cannot. The guess carries no correctness weight:
    _bpe_verify_prefix replays exact deltas and truncates at the first
    divergence, so estimate errors (overlap chains, trigrams created
    mid-round, truncated tails) only shorten a round, never corrupt the
    merge sequence."""
    from collections import defaultdict  # noqa: PLC0415

    est = {p: n for p, n in cands}
    by_left: dict = defaultdict(list)  # (t1,t2) -> [(t3, n)]
    by_right: dict = defaultdict(list)  # (t2,t3) -> [(t1, n)]
    for t, n in tris:
        t1, t2, t3 = t.split(" ")
        by_left[(t1, t2)].append((t3, n))
        by_right[(t2, t3)].append((t1, n))
    guess = []
    for _ in range(cap):
        live = [(-c, p) for p, c in est.items() if c > 0]
        if not live:
            break
        negc, p = min(live)
        a, b = p.split(" ")
        ab = a + b
        guess.append((a, b, ab, -negc))
        est[p] = 0
        for x, n in by_right.pop((a, b), ()):  # trigrams (x, a, b)
            if x == a and b == a:  # aaa-style chains: skip, let verify rule
                continue
            est[f"{x} {a}"] = est.get(f"{x} {a}", 0) - n
            est[f"{x} {ab}"] = est.get(f"{x} {ab}", 0) + n
        for y, n in by_left.pop((a, b), ()):  # trigrams (a, b, y)
            est[f"{b} {y}"] = est.get(f"{b} {y}", 0) - n
            est[f"{ab} {y}"] = est.get(f"{ab} {y}", 0) + n
    return guess


def _bpe_verify_prefix(cands, floor, whole, batch, deltas):
    """Longest prefix of `batch` PROVABLY equal to sequential BPE's merge
    sequence, replayed against exact counts; returns the accepted merges
    with their TRUE pair counts (the guess's estimates are discarded).

    `cands` are the round's top-K exact (pair, count) rows ordered by
    (count DESC, pair ASC). When `whole` is set the collection IS the
    entire pair table, so every uncollected pair has exact count 0 and
    the replay stays fully exact — including pairs created mid-round,
    whose counts are pure deltas. Otherwise uncollected pairs are only
    upper-bounded by floor (the K+1th count) plus their cumulative
    delta; among count == floor the collection holds the
    lexicographically smallest strings, so an uncollected tie can never
    win the ASC tie-break against a collected row at step 0. A step is
    accepted iff its pair is the (-count, pair) argmax over all exactly
    known pairs AND no upper-bounded pair could outrank it; truncation
    at the first unprovable step keeps the result sound, and step 0 is
    the global argmax by construction, so every round advances."""
    counts = {p: n for p, n in cands}
    bounded: dict[str, int] = {}  # non-whole mode: upper bounds
    accepted = []
    for i, (a, b, ab, _est) in enumerate(batch):
        want = a + " " + b
        live = [(-c, p) for p, c in counts.items() if c > 0]
        if not live:
            break
        negc, bp = min(live)
        bc = -negc
        if bp != want:
            break
        if any(
            p not in counts and (ub > bc or (ub == bc and p < bp))
            for p, ub in bounded.items()
        ):
            break
        # non-whole mode: once a count sinks to the floor, uncollected
        # ties become unprovable (only step 0 keeps the collection-order
        # tie argument intact)
        if not whole and bc <= floor and i > 0:
            break
        accepted.append((a, b, ab, bc))
        for p, d in deltas.get(i, {}).items():
            if p in counts:
                counts[p] += d
            elif whole:
                counts[p] = d  # exact: base count is 0
            else:
                bounded[p] = bounded.get(p, floor) + d
    return accepted


def train_bpe(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = 10,
    stats: dict | None = None,
) -> DataFrame:
    """Distributed BPE tokenizer training (the iterative loop whose single
    round bpe_merge_candidates ranks): learn `n_merges` byte-pair merges
    over the documents corpus, returning the merge table
    (rank, left_sym, right_sym, merged, pair_count) — the SAME sequence
    classic sequential BPE (Sennrich et al. 2016) produces.

    Batched-exact selection (the round-3 scale fix): one merge per Spark
    round does ~100k sequential driver round-trips for a real tokenizer.
    Instead, each round (a) aggregates exact pair counts (top-K) and
    trigram contexts (top-M) — both driver-collectable at any corpus
    size, (b) GUESSES up to 50 merges by simulating sequential BPE on
    the driver with first-order trigram updates (_bpe_guess — so the
    guess follows BPE into pairs created mid-round, e.g. (t,h) then
    (th,e)), (c) computes the exact per-step pair-count deltas of that
    speculative sequence in ONE distributed pass (_bpe_step_deltas),
    and (d) replays the deltas to keep only the prefix whose every step
    is PROVABLY sequential BPE's (-count, pair) argmax
    (_bpe_verify_prefix — when the K+1-limited collect captured the
    whole pair table the replay is fully exact; otherwise uncollected
    pairs are upper-bounded by the K+1th count, sound, never
    optimistic). The verified prefix is fused in one chained-regex
    projection. Worst case degenerates to one merge per round
    (= classic sequential); measured on the test corpus the batching
    cuts Spark rounds ~6x, and deeper at real scale where top counts
    are stable (tests/test_round4_ops.py pins the >=5x floor).

    Scale shape per round: three grouped aggs over the vocabulary-
    bounded word table (Heaps' law — |V|, not corpus size), three
    bounded collects (top-K pairs, top-M trigrams, touched-pair
    deltas), one regexp projection. The word table is re-materialized
    per round so lineage stays O(1) deep; the corpus text is scanned
    exactly once, at round 0. `stats` (optional) receives
    {"rounds", "merges"} so tests can assert the round count. The merge
    regex is symbol-boundary-anchored and fuses left-to-right
    non-overlapping — the standard greedy BPE application order."""
    import re as _re  # noqa: PLC0415

    from pyspark.sql import functions as F  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word")
        )
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select(
            "freq", F.concat_ws(" ", F.split("word", "")).alias("sym")
        )
    )
    cur = materialize(words)
    pair_expr = F.expr(
        "CASE WHEN size(split(sym, ' ')) > 1 THEN "
        "transform(sequence(1, size(split(sym, ' ')) - 1), "
        "i -> concat(element_at(split(sym, ' '), i), ' ', "
        "element_at(split(sym, ' '), i + 1))) "
        "ELSE array() END"
    )
    tri_expr = F.expr(
        "CASE WHEN size(split(sym, ' ')) > 2 THEN "
        "transform(sequence(1, size(split(sym, ' ')) - 2), "
        "i -> concat_ws(' ', element_at(split(sym, ' '), i), "
        "element_at(split(sym, ' '), i + 1), "
        "element_at(split(sym, ' '), i + 2))) "
        "ELSE array() END"
    )
    merges: list[tuple] = []
    rounds = 0
    while len(merges) < n_merges:
        rounds += 1
        top = (
            cur.select("freq", F.explode(pair_expr).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), "pair")
            .limit(_BPE_TOP_K + 1)
            .collect()
        )
        if not top:
            break
        whole = len(top) <= _BPE_TOP_K
        floor = 0 if whole else int(top[_BPE_TOP_K]["n"])
        cands = [(r["pair"], int(r["n"])) for r in top[:_BPE_TOP_K]]
        cap = min(_BPE_BATCH_CAP, n_merges - len(merges))
        if cap > 1:
            tris = [
                (r["tri"], int(r["n"]))
                for r in cur.select("freq", F.explode(tri_expr).alias("tri"))
                .groupBy("tri")
                .agg(F.sum("freq").alias("n"))
                .orderBy(F.col("n").desc(), "tri")
                .limit(_BPE_TOP_TRI)
                .collect()
            ]
            batch = _bpe_guess(cands, tris, cap)
            accepted = (
                _bpe_verify_prefix(
                    cands, floor, whole, batch, _bpe_step_deltas(cur, batch)
                )
                if len(batch) > 1
                else batch
            )
        else:
            p0, n0 = cands[0]
            a0, b0 = p0.split(" ")
            accepted = [(a0, b0, a0 + b0, n0)]
        for a, b, ab, n in accepted:
            merges.append((len(merges), a, b, ab, n))
        col = F.col("sym")
        for a, b, ab, _n in accepted:
            col = F.regexp_replace(
                col, f"(?<= |^){_re.escape(a)} {_re.escape(b)}(?= |$)", ab
            )
        cur = materialize(cur.withColumn("sym", col))
    if stats is not None:
        stats["rounds"] = rounds
        stats["merges"] = len(merges)
    return local_frame(
        spark,
        merges,
        "rank int, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    )


def apply_bpe(
    spark: SparkSession, sf_dir: str, merges: DataFrame
) -> DataFrame:
    """Encode the corpus vocabulary with a learned BPE merge table
    (train_bpe's output): apply every merge in rank order to each distinct
    word, returning (word, freq, pieces, n_pieces).

    The merge list is collected to the driver (it is the MODEL — tokenizer
    merge tables are KBs even at 100k merges) and compiled into one chained
    regexp projection over the vocabulary-bounded word table: a single
    narrow stage, no shuffle. For merge counts where a chained-regex
    expression would exceed codegen limits, the same loop applies in
    batches of 50 merges per projection."""
    import re as _re  # noqa: PLC0415

    from pyspark.sql import functions as F  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word")
        )
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select(
            "word",
            "freq",
            F.concat_ws(" ", F.split("word", "")).alias("sym"),
        )
    )
    ranked = [
        (r.left_sym, r.right_sym)
        for r in merges.orderBy("rank").collect()
    ]
    out = words
    for batch_start in range(0, len(ranked), 50):
        col = F.col("sym")
        for left, right in ranked[batch_start:batch_start + 50]:
            pattern = (
                f"(?<= |^){_re.escape(left)} {_re.escape(right)}(?= |$)"
            )
            col = F.regexp_replace(col, pattern, left + right)
        out = out.withColumn("sym", col)
    return out.select(
        "word",
        "freq",
        F.split("sym", " ").alias("pieces"),
        F.size(F.split("sym", " ")).alias("n_pieces"),
    )


QUERIES = {
    "corpus_cleaning_funnel": corpus_cleaning_funnel,
    "importance_sampled_counts": importance_sampled_counts,
    "doc_chunks": doc_chunks,
    "pack_documents": pack_documents,
    "build_vocab": build_vocab,
    "oov_rate_by_source": oov_rate_by_source,
    "mix_sources": mix_sources,
    "pii_scrub_counts": pii_scrub_counts,
}

ORACLE = {
    "oov_rate_by_source": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        tdf AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
        ),
        vocab AS (
            SELECT term FROM (
                SELECT term,
                       row_number() OVER (ORDER BY df DESC, term) AS rnk
                FROM tdf
            ) WHERE rnk <= {VOCAB_SIZE}
        ),
        j AS (
            SELECT t.doc_id,
                   CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
            FROM toks t LEFT JOIN vocab v ON v.term = t.term
        )
        SELECT d.source,
               count(*) AS n_tokens,
               CAST(sum(j.oov) AS BIGINT) AS n_oov,
               {R("sum(j.oov) * 1e0 / count(*)", 6)} AS oov_rate
        FROM j JOIN documents d ON d.doc_id = j.doc_id
        GROUP BY d.source ORDER BY d.source
    """,
    "corpus_cleaning_funnel": _funnel_sql(
        "CAST(len(string_split(text, ' ')) AS INT)"
    ),
    "importance_sampled_counts": _importance_sql(
        "CAST(len(string_split(text, ' ')) AS INT)",
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))"
        " AS INTEGER) % 10000",
    ),
    "doc_chunks": f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        chunks AS (
            SELECT doc_id, unnest(range(0,
                       CAST(greatest(
                           ceil((len(w) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}e0),
                           0) AS INT) + 1)) AS chunk_idx,
                   w
            FROM t
        )
        SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
               array_to_string(w[chunk_idx * {CHUNK_STRIDE} + 1 :
                                 chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
                               ' ') AS chunk_text,
               CAST(len(w[chunk_idx * {CHUNK_STRIDE} + 1 :
                          chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS INT)
                   AS n_tokens
        FROM chunks
        ORDER BY doc_id, chunk_idx
    """,
    "pack_documents": f"""
        WITH d AS (
            -- sequential single-shard spelling = the ground truth the
            -- two-pass distributed prefix sum must reproduce exactly.
            -- CAST: windowed SUM(INT) is HUGEINT in DuckDB (driver hazard)
            SELECT doc_id, n_chars,
                   CAST(sum(n_chars) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_chars
            FROM documents
        )
        SELECT doc_id, n_chars,
               CAST((cum_chars - n_chars) // {PACK_BUDGET} AS BIGINT)
                   AS pack_bin,
               CAST(cum_chars - n_chars
                   - ((cum_chars - n_chars) // {PACK_BUDGET}) * {PACK_BUDGET}
                   AS BIGINT) AS offset_in_bin
        FROM d ORDER BY doc_id
    """,
    "build_vocab": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        df AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
        ),
        ranked AS (
            SELECT term, df,
                   CAST(row_number() OVER (ORDER BY df DESC, term) AS INT)
                       AS token_id
            FROM df
        )
        SELECT token_id, term, df FROM ranked
        WHERE token_id <= {VOCAB_SIZE}
        ORDER BY token_id
    """,
    "mix_sources": """
        WITH ranked AS (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source ORDER BY doc_id)
                       AS rn
            FROM documents
        ),
        mixed AS (
            SELECT doc_id, source,
                   CAST(row_number() OVER (ORDER BY rn, source) AS INT)
                       AS mix_pos
            FROM ranked
        )
        SELECT mix_pos, doc_id, source FROM mixed
        WHERE mix_pos <= 100 ORDER BY mix_pos
    """,
    "pii_scrub_counts": r"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INT)
                   AS n_emails,
               CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INT)
                   AS n_urls,
               CAST(len(regexp_extract_all(text, '\d{6,}')) AS INT)
                   AS n_long_digits,
               CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>',
                   'g'),
                   'https?://[^\s]+', '<URL>', 'g'),
                   '\d{6,}', '<NUM>', 'g')) AS INT) AS scrubbed_len
        FROM documents ORDER BY doc_id
    """,
}


MIX_TEMPERATURE = 0.7  # classic multilingual-sampling temperature
MIX_BUDGET = 1000  # docs per epoch to allocate across sources


def _temperature_mix_sql(count_table: str, z_fold: str) -> str:
    """Temperature-adjusted source allocation, shared dialect shape:
    p_i = n_i/N, q_i ∝ p_i^(1/T), alloc_i = floor(budget · q_i). The
    low-resource upweighting every multilingual/multi-domain pretraining
    mix uses (T=1 ∝ natural, T→0 → uniform).

    z_fold renders the normalizer as a SOURCE-ORDERED sequential fold per
    dialect: a plain sum(q_raw) lets the engine merge float partials in
    nondeterministic (shuffle-arrival) order, and with a uniform corpus the
    budget·q/z product sits exactly on the floor() boundary — alloc then
    flips between runs. Folding in sorted-source order makes z (and hence
    every downstream floor) bit-stable and identical across engines."""
    inv_t = 1.0 / MIX_TEMPERATURE
    return f"""
        WITH src AS (
            SELECT source, count(*) AS n_docs FROM {count_table} GROUP BY source
        ),
        tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS n FROM src),
        q AS (
            SELECT source, n_docs,
                   pow(n_docs / t.n, {inv_t!r}) AS q_raw
            FROM src, tot t
        ),
        z AS (SELECT {z_fold} AS z FROM q)
        SELECT q.source,
               q.n_docs,
               floor((q.n_docs / t.n) * 1e6 + 0.501e0) / 1e6 AS p_natural,
               floor((q.q_raw / z.z) * 1e6 + 0.501e0) / 1e6 AS p_temperature,
               CAST(floor({MIX_BUDGET} * q.q_raw / z.z) AS BIGINT) AS alloc
        FROM q, z, tot t
        ORDER BY q.source
    """


def temperature_mix_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling allocation under temperature T=0.7: natural vs
    temperature-adjusted probabilities and the integer doc budget each
    source receives. One grouped count + two broadcast scalars — the whole
    mix plan is three tiny aggregations regardless of corpus size."""
    load_tables(spark, sf_dir)
    return spark.sql(_temperature_mix_sql(
        "documents",
        "aggregate(transform(array_sort(collect_list(struct(source, q_raw))),"
        " s -> s.q_raw), CAST(0 AS DOUBLE), (a, x) -> a + x)",
    ))

QUERIES["temperature_mix_allocation"] = temperature_mix_allocation
# same SQL shape on DuckDB; z folds an ORDER BY source list sequentially
ORACLE["temperature_mix_allocation"] = _temperature_mix_sql(
    "documents", "list_aggregate(list(q_raw ORDER BY source), 'sum')"
)


_COVERAGE_SQL = """
    WITH toks AS ({toks}),
    tf AS (SELECT term, count(*) AS n FROM toks GROUP BY term),
    tot AS (SELECT sum(n) AS t, count(*) AS v FROM tf),
    top AS (SELECT n FROM tf ORDER BY n DESC, term LIMIT 10000),
    ranked AS (
        -- bounded window: top is LIMIT 10000 rows
        SELECT n, row_number() OVER (PARTITION BY (hash(n) % 1)
                                     ORDER BY n DESC) AS r
        FROM top
    ),
    ks AS ({ks}),
    cov AS (
        SELECT ks.k,
               sum(CASE WHEN ranked.r <= ks.k THEN ranked.n ELSE 0 END)
                   AS covered
        FROM ranked CROSS JOIN ks GROUP BY ks.k
    )
    SELECT CAST(cov.k AS INT) AS k,
           CAST(cov.covered AS BIGINT) AS covered_tokens,
           CAST(tot.t AS BIGINT) AS total_tokens,
           {cov_out} AS coverage,
           CAST(tot.v AS BIGINT) AS vocab_size
    FROM cov CROSS JOIN tot
    ORDER BY k
"""


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the fraction of corpus token mass a
    top-k frequency vocabulary covers, at k = 100 / 1,000 / 10,000 —
    the OOV-vs-vocab-size tradeoff curve you read before fixing a
    tokenizer budget (the operator view of what build_vocab +
    oov_rate_by_source answer for ONE k), plus Heaps-style vocab size.

    Tie-break note: ranks order by (count DESC); ties at a k boundary
    may pick different TERMS per engine but always the same COUNT
    multiset, so the covered-mass sums are deterministic.

    Scale shape: one token-grain grouped count (map-side combinable),
    then everything runs on the 10,000-row TakeOrdered head (the
    LIMIT compiles to TakeOrderedAndProject, never a global sort); the
    rank window's single partition over that bounded head is declared
    via the hash%1 pattern."""
    load_tables(spark, sf_dir)
    return spark.sql(_COVERAGE_SQL.format(
        toks="SELECT explode(split(text, ' ')) AS term FROM documents",
        ks="SELECT explode(array(100, 1000, 10000)) AS k",
        cov_out=R("cov.covered * 1e0 / tot.t", 6),
    ))


QUERIES["vocab_coverage_curve"] = vocab_coverage_curve
ORACLE["vocab_coverage_curve"] = _COVERAGE_SQL.format(
    toks="SELECT unnest(string_split(text, ' ')) AS term FROM documents",
    ks="SELECT unnest([100, 1000, 10000]) AS k",
    cov_out=R("cov.covered * 1e0 / tot.t", 6),
)


# --- length-bucketed padding efficiency -------------------------------------

PAD_BUCKET_CAP = 1024  # longest bucket (docs above pad to the next pow2 anyway)


def _padding_sql(split, ln) -> str:
    """Padding waste of power-of-two length bucketing vs one global-max
    batch: each doc pads to 2^ceil(log2(n_tok)) inside its bucket, vs
    padding every doc to the corpus max. waste = padded_tokens - real
    tokens; the delta between the ALL-row waste and the bucket-row sum is
    exactly what bucketed batching saves — the standard dynamic-batching
    accounting (in Transformer data loaders, padding is compute burned on
    masked positions)."""
    return f"""
        WITH d AS (
            SELECT {ln}({split}) AS n_tok FROM documents
        ),
        b AS (
            -- exact integer pow-2 ladder: ln(n)/ln(2) on an exact power
            -- of two sits on a libm knife edge (ln(64)/ln(2) can round
            -- to 6.0000000000000009 -> ceil 7) and engines may disagree
            SELECT n_tok,
                   CAST(CASE WHEN n_tok <= 1 THEN 1 WHEN n_tok <= 2 THEN 2 WHEN n_tok <= 4 THEN 4 WHEN n_tok <= 8 THEN 8 WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32 WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128 WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512 WHEN n_tok <= 1024 THEN 1024
                        ELSE {PAD_BUCKET_CAP} END AS BIGINT) AS bucket
            FROM d WHERE n_tok >= 1
        ),
        per_bucket AS (
            SELECT CAST(bucket AS STRING) AS bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS real_tokens,
                   CAST(max(bucket) * count(*) AS BIGINT) AS padded_tokens
            FROM b GROUP BY bucket
        ),
        global_row AS (
            SELECT 'GLOBAL_MAX' AS bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS real_tokens,
                   CAST(max(n_tok) * count(*) AS BIGINT) AS padded_tokens
            FROM b
        ),
        u AS (
            SELECT * FROM per_bucket UNION ALL SELECT * FROM global_row
        )
        SELECT bucket, n_docs, real_tokens, padded_tokens,
               {R("(padded_tokens - real_tokens) * 1e0 / padded_tokens", 6)}
                   AS waste_fraction
        FROM u ORDER BY bucket
    """


def length_bucket_padding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-efficiency report for length-bucketed batching (see
    _padding_sql). Scale shape: one projection + two grouped aggregates
    over a bounded bucket domain; the GLOBAL_MAX row is the same single
    aggregate — no window, no per-doc shuffle."""
    load_tables(spark, sf_dir)
    return spark.sql(_padding_sql("split(text, ' ')", "size"))


QUERIES["length_bucket_padding_stats"] = length_bucket_padding_stats
ORACLE["length_bucket_padding_stats"] = _padding_sql(
    "string_split(text, ' ')", "len"
)


# --- feature-hashing collision stats -----------------------------------------

FHASH_BITS = 12  # 4096-bucket hash space (Weinberger et al., ICML'09)


def _fhash_sql(bucket_expr: str, split_tokens: str) -> str:
    return f"""
        WITH tok AS (
            SELECT t AS term FROM ({split_tokens}) WHERE t <> ''
        ),
        tf AS (
            SELECT term, CAST(count(*) AS BIGINT) AS cf
            FROM tok GROUP BY term
        ),
        hashed AS (
            SELECT term, cf, {bucket_expr} AS bucket FROM tf
        ),
        per_bucket AS (
            SELECT bucket,
                   CAST(count(*) AS BIGINT) AS n_terms,
                   CAST(sum(cf) AS BIGINT) AS mass
            FROM hashed GROUP BY bucket
        )
        SELECT CAST(sum(n_terms) AS BIGINT) AS n_terms,
               CAST(count(*) AS BIGINT) AS n_buckets_used,
               {1 << FHASH_BITS} AS n_buckets_total,
               CAST(sum(CASE WHEN n_terms > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_colliding_buckets,
               CAST(sum(CASE WHEN n_terms > 1 THEN n_terms ELSE 0 END)
                   AS BIGINT) AS n_colliding_terms,
               {R("sum(CASE WHEN n_terms > 1 THEN n_terms ELSE 0 END) * 1e0"
                  " / sum(n_terms)", 6)} AS term_collision_rate,
               {R("sum(CASE WHEN n_terms > 1 THEN mass ELSE 0 END) * 1e0"
                  " / sum(mass)", 6)} AS mass_collision_rate
        FROM per_bucket
    """


def feature_hashing_collisions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hashing-trick QA (Weinberger et al., "Feature Hashing for Large
    Scale Multitask Learning", ICML'09): hash the corpus vocabulary into
    2^FHASH_BITS buckets (md5 — the repo's cross-engine hash) and report
    how much collides: distinct-term collision rate and the token-MASS
    share landing in contested buckets (what actually corrupts a hashed
    bag-of-words model — two rare terms colliding costs little, a stop
    word sharing a bucket costs a lot).

    Scale shape: tokenize-explode + two grouped counts; the bucket space
    is a constant, so the final rollup is bounded."""
    load_tables(spark, sf_dir)
    return spark.sql(_fhash_sql(
        f"CAST(conv(substring(md5(term), 1, 8), 16, 10) AS BIGINT)"
        f" % {1 << FHASH_BITS}",
        "SELECT doc_id, explode(split(text, ' ')) AS t FROM documents",
    ))


QUERIES["feature_hashing_collisions"] = feature_hashing_collisions
ORACLE["feature_hashing_collisions"] = _fhash_sql(
    f"CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT)"
    f" % {1 << FHASH_BITS}",
    "SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents",
)


# --- token-budget water-filling ------------------------------------------------
WATERFILL_SHARE = "0.5e0"  # budget = half the corpus's tokens


def _waterfill_sql(st_src: str, mat: str = "") -> str:
    """Water-filling allocation of a token budget across sources: find the
    level L with sum_s min(T_s, L) = B, allocate min(T_s, L) — the
    max-min-fair quota (classic water-filling, cf. Bertsekas & Gallager,
    "Data Networks", §6.5.2 max-min flow fairness): no source is cut
    below the level while any larger source keeps excess. Closed form on
    the source relation sorted by T ascending: with the k smallest fully
    taken, L = (B - prefix_k) / (m - k); exactly one k satisfies
    T_(k) <= L < T_(k+1). Equal-T ties resolve correctly because the
    strict upper bound walks past every tied row (min(T, L) = T for all
    of them)."""
    return f"""
        WITH st AS {mat}(
            {st_src}
        ),
        tot AS (
            SELECT sum(toks) AS t_all, count(*) AS m,
                   floor(sum(toks) * {WATERFILL_SHARE}) AS b
            FROM st
        ),
        ranked AS (
            -- hash%1 partition: constant — st is bounded by the source
            -- count; declares the single partition intentional
            SELECT source, toks,
                   row_number() OVER w AS i,
                   sum(toks) OVER (PARTITION BY (hash(source) % 1)
                       ORDER BY toks, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum,
                   lag(toks) OVER w AS prev_toks
            FROM st
            WINDOW w AS (PARTITION BY (hash(source) % 1)
                         ORDER BY toks, source)
        ),
        lvl AS (
            SELECT (t.b - (r.cum - r.toks)) * 1e0 / (t.m - r.i + 1)
                       AS level
            FROM ranked r CROSS JOIN tot t
            WHERE (t.b - (r.cum - r.toks)) * 1e0 / (t.m - r.i + 1)
                      < r.toks
              AND (r.prev_toks IS NULL
                   OR (t.b - (r.cum - r.toks)) * 1e0 / (t.m - r.i + 1)
                          >= r.prev_toks)
        )
        SELECT s.source,
               CAST(s.toks AS BIGINT) AS tokens,
               {R("least(s.toks * 1e0, l.level)", 4)} AS allocation,
               {R("least(s.toks * 1e0, l.level) / s.toks", 6)}
                   AS fill_frac,
               CASE WHEN s.toks * 1e0 <= l.level THEN 1 ELSE 0 END
                   AS fully_taken
        FROM st s CROSS JOIN lvl l
        ORDER BY s.source
    """


_WATERFILL_ST_SPARK = (
    "SELECT source, CAST(sum(size(split(text, ' '))) AS BIGINT) AS toks "
    "FROM documents GROUP BY source"
)
_WATERFILL_ST_DUCK = (
    "SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT)"
    " AS toks FROM documents GROUP BY source"
)


def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allocate a token budget (half the corpus) across sources by
    max-min-fair water-filling (see _waterfill_sql) — the mixing policy
    between temperature_mix_allocation's power-law reweighting and a hard
    per-source cap: small sources are taken whole, large sources are
    clipped to one common level, and the budget is met exactly.

    Scale shape: one corpus scan to per-source token totals (materialized
    — the 20-row relation feeds both the ranked prefix walk and the final
    projection, and inlining would re-run the corpus scan); everything
    after is windows and joins on a source-bounded relation with a 1-row
    broadcast level."""
    load_tables(spark, sf_dir)
    materialize(spark.sql(_WATERFILL_ST_SPARK)).createOrReplaceTempView(
        "waterfill_st_v"
    )
    return spark.sql(_waterfill_sql("SELECT * FROM waterfill_st_v"))


QUERIES["token_budget_waterfill"] = token_budget_waterfill
ORACLE["token_budget_waterfill"] = _waterfill_sql(
    _WATERFILL_ST_DUCK, mat="MATERIALIZED "
)


# --- DSIR hashed-n-gram importance weights --------------------------------------
#
# Data Selection via Importance Resampling (Xie et al., NeurIPS 2023,
# arXiv:2302.03169): score every document in the raw pool by how target-like
# its hashed-unigram feature distribution is — log weight = sum over tokens
# of ln p_target(bucket) - ln p_raw(bucket), with add-1 smoothing over the
# fixed bucket space. The target here is the 'src1' slice of the corpus;
# tokens hash into 256 buckets via md5 (reshuffle-stable, dialect-shared).

DSIR_BUCKETS = 256
DSIR_TARGET = "src1"


def _dsir_sql(h_tok: str, tok_src: str) -> str:
    b = DSIR_BUCKETS
    return f"""
        WITH toks AS (
            SELECT doc_id, source, ({h_tok}) % {b} AS bkt
            FROM {tok_src}
        ),
        tgt AS (
            SELECT bkt, count(*) AS c FROM toks
            WHERE source = '{DSIR_TARGET}' GROUP BY bkt
        ),
        raw AS (SELECT bkt, count(*) AS c FROM toks GROUP BY bkt),
        tt AS (SELECT sum(c) AS n FROM tgt),
        tr AS (SELECT sum(c) AS n FROM raw),
        ratio AS (
            SELECT r.bkt,
                   ln((coalesce(t.c, 0) + 1e0) / (tt.n + {b}e0))
                   - ln((r.c + 1e0) / (tr.n + {b}e0)) AS lr
            FROM raw r LEFT JOIN tgt t ON r.bkt = t.bkt
            CROSS JOIN tt CROSS JOIN tr
        ),
        doc AS (
            SELECT k.doc_id, k.source,
                   count(*) AS n_toks,
                   sum(rt.lr) AS lw
            FROM toks k JOIN ratio rt ON k.bkt = rt.bkt
            GROUP BY k.doc_id, k.source
        )
        SELECT doc_id, source,
               CAST(n_toks AS BIGINT) AS n_toks,
               {R("lw", 4)} AS log_weight,
               {R("lw / n_toks", 6)} AS log_weight_per_token
        FROM doc
        ORDER BY floor(lw / n_toks * 1e6 + 0.501e0) DESC, doc_id
        LIMIT 20
    """


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR document scores: hashed-unigram (256-bucket) log importance
    weight of every document against the 'src1' target slice, add-1
    smoothed; top-20 by length-normalized weight (raw sum also emitted).

    Scale shape: tokenize-explode into a 256-row bucket histogram (twice:
    target slice + full pool — both partial-aggregatable), a 256-row
    broadcast ratio table joined back onto the token stream, one grouped
    sum per doc, TakeOrdered top-20. No pairwise work anywhere; the model
    state is fixed-size regardless of corpus scale — exactly why hashed
    DSIR is the importance-sampling method that runs at 100 TB."""
    load_tables(spark, sf_dir)
    return spark.sql(_dsir_sql(
        "CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS INT)",
        "documents LATERAL VIEW explode(split(text, ' ')) t AS tok",
    ))


QUERIES["dsir_importance_weights"] = dsir_importance_weights
ORACLE["dsir_importance_weights"] = _dsir_sql(
    "CAST(concat('0x', substr(md5(tok), 1, 4)) AS INTEGER)",
    "(SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok"
    " FROM documents) dtok",
)


# --- span-corruption masking stats ---------------------------------------------------
#
# T5-style span corruption (Raffel JMLR'20 §3.1.4): mask contiguous token
# spans and replace each with a sentinel. Here the mask layout is a pure
# function of (doc_id, block): tokens partition into stride-3 blocks and a
# block is masked iff md5(doc_id:block) % 5 == 0 — a deterministic ~20%
# block rate (~expected corruption comparable to T5's 15%), reproducible
# across engines and reshuffles. The report is the per-source accounting a
# pretraining pipeline needs before emitting sentinel streams: masked
# fraction, spans (= sentinels) per 100 tokens, and span-length truncation
# at doc tails.

SPAN_STRIDE = 3
SPAN_RATE_MOD = 5


def _span_sql(h_block: str, ntok: str) -> str:
    return f"""
        WITH d AS (
            SELECT doc_id, source, {ntok} AS n_toks FROM documents
        ),
        blocks AS (
            SELECT doc_id, source, n_toks,
                   b.b AS blk,
                   CASE WHEN (b.b + 1) * {SPAN_STRIDE} <= n_toks
                        THEN {SPAN_STRIDE}
                        ELSE n_toks - b.b * {SPAN_STRIDE} END AS blk_len
            FROM d
            {{blk_gen}}
        ),
        flagged AS (
            SELECT doc_id, source, n_toks, blk, blk_len,
                   CASE WHEN ({h_block}) % {SPAN_RATE_MOD} = 0
                        THEN 1 ELSE 0 END AS masked
            FROM blocks
        ),
        per_doc AS (
            SELECT doc_id, source, n_toks,
                   sum(masked) AS n_spans,
                   sum(masked * blk_len) AS n_masked,
                   sum(CASE WHEN masked = 1 AND blk_len < {SPAN_STRIDE}
                            THEN 1 ELSE 0 END) AS n_truncated
            FROM flagged GROUP BY doc_id, source, n_toks
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS total_tokens,
               CAST(sum(n_spans) AS BIGINT) AS total_spans,
               CAST(sum(n_masked) AS BIGINT) AS total_masked,
               {R("sum(n_masked) * 1e0 / sum(n_toks)", 6)} AS masked_frac,
               {R("sum(n_spans) * 1e2 / sum(n_toks)", 4)}
                   AS sentinels_per_100_toks,
               CAST(sum(n_truncated) AS BIGINT) AS truncated_spans
        FROM per_doc
        GROUP BY source ORDER BY source
    """


_SPAN_SPARK_BLK = (
    "LATERAL VIEW explode(sequence(0, "
    f"CAST(ceil(n_toks / {SPAN_STRIDE}e0) AS INT) - 1)) b AS b"
)
_SPAN_DUCK_BLK = (
    "CROSS JOIN LATERAL (SELECT unnest(range(0, "
    f"CAST(ceil(n_toks / {SPAN_STRIDE}e0) AS BIGINT)))) b(b)"
)


def span_corruption_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source span-corruption accounting for deterministic T5-style
    masking (stride-{SPAN_STRIDE} blocks, md5 block selection at 1/{SPAN_RATE_MOD}):
    masked fraction, sentinels per 100 tokens, tail-truncated spans.

    Scale shape: per doc the block relation is n_toks/{SPAN_STRIDE} rows
    from one sequence-explode (no token materialization — only counts);
    everything rolls up by source. The mask is a pure key function:
    re-running on any partitioning reproduces byte-identical layouts."""
    load_tables(spark, sf_dir)
    return spark.sql(_span_sql(
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':',"
        " CAST(blk AS STRING))), 1, 4), 16, 10) AS INT)",
        "size(split(text, ' '))",
    ).format(blk_gen=_SPAN_SPARK_BLK))


QUERIES["span_corruption_stats"] = span_corruption_stats
ORACLE["span_corruption_stats"] = _span_sql(
    "CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':',"
    " CAST(blk AS VARCHAR))), 1, 4)) AS INTEGER)",
    "CAST(len(string_split(text, ' ')) AS INT)",
).format(blk_gen=_SPAN_DUCK_BLK)


# --- unbiased pass@k estimator ---------------------------------------------------
# The model-eval aggregation from Chen et al., "Evaluating Large Language
# Models Trained on Code" (arXiv:2107.03374, eq. in §2.1): with n sampled
# attempts per problem of which c pass, the unbiased estimator of pass@k is
# 1 - C(n-c, k)/C(n, k). Computing the binomial ratio as the telescoped
# product prod_{i<k} (n-c-i)/(n-i) is numerically stable (every factor is
# in [0, 1]) and hits exact 0/1 at the boundaries. Fixture mapping:
# customer = problem, order = attempt, 'F' (finished) = pass.
PASS_AT_K_LEVELS = (1, 5, 10)


def _pass_at_k_sql(prod_expr: str, ks_rel: str) -> str:
    """Mean unbiased pass@k over problems with n >= k attempts, per k.
    The per-problem estimate is snapped to an integer micro-unit grid
    BEFORE the cross-problem sum so the mean is an order-free integer
    aggregate (float SUM merge order is nondeterministic across engines
    and runs)."""
    return f"""
        WITH att AS (
            SELECT o_custkey AS prob,
                   count(*) AS n,
                   sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS c
            FROM orders GROUP BY o_custkey
        ),
        ks AS ({ks_rel}),
        per AS (
            SELECT k.k, a.prob,
                   CAST(floor({prod_expr} * 1000000e0 + 0.501e0) AS BIGINT)
                       AS fail6
            FROM att a CROSS JOIN ks k
            WHERE a.n >= k.k
        ),
        agg AS (
            SELECT k, count(*) AS n_problems,
                   sum(1000000 - fail6) AS pass6
            FROM per GROUP BY k
        )
        SELECT CAST(k AS BIGINT) AS k,
               CAST(n_problems AS BIGINT) AS n_problems,
               {R("pass6 / (1000000e0 * n_problems)", 6)} AS mean_pass_at_k
        FROM agg ORDER BY k
    """


def pass_at_k_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k (k in {PASS_AT_K_LEVELS}) over the customer/order
    fixture — the estimator every sampled-eval harness aggregates with
    (see _pass_at_k_sql; naive (c/n)^k-style plug-ins are biased for
    small n, the telescoped-binomial form is not).

    Scale shape: one grouped count over the attempts fact (map-side
    combinable), a 3-row k-ladder broadcast, a per-(problem, k) pure
    projection fold of <= k factors, one final grouped integer sum — no
    window, no self-join; linear in attempts at any corpus size."""
    load_tables(spark, sf_dir)
    return spark.sql(_pass_at_k_sql(
        "aggregate(sequence(0, k.k - 1), CAST(1 AS DOUBLE), "
        "(acc, i) -> acc * (CAST(a.n - a.c - i AS DOUBLE) / "
        "CAST(a.n - i AS DOUBLE)))",
        "SELECT explode(array" + str(PASS_AT_K_LEVELS) + ") AS k",
    ))


QUERIES["pass_at_k_estimates"] = pass_at_k_estimates
ORACLE["pass_at_k_estimates"] = _pass_at_k_sql(
    "list_aggregate(list_transform(range(0, k.k), "
    "i -> CAST(a.n - a.c - i AS DOUBLE) / CAST(a.n - i AS DOUBLE)), "
    "'product')",
    "SELECT unnest([" + ", ".join(str(k) for k in PASS_AT_K_LEVELS) + "]) AS k",
)


# --- unigram-LM (SentencePiece-style) tokenizer EM ----------------------------
# Kudo 2018 ("Subword Regularization"): the unigram language model
# tokenizer is trained by EM — E-step: Viterbi-segment the corpus under
# the current piece probabilities; M-step: re-estimate probabilities
# from the segmentation's piece counts. Two registry ops share the
# machinery: `unigram_lm_em_step` (one EM step from the substring-count
# seed) and `unigram_lm_trained` ({UNI_ITERS} EM iterations with
# SentencePiece-style vocabulary pruning between steps). Everything runs
# on an exact integer grid: piece costs are canon-floored -ln(p)*1e6
# BIGINTs, and the E-step is the O(L * PMAX) Viterbi DP — a per-word
# integer FOLD over character positions (round-11 verdict item 3;
# the old spelling enumerated all 2^(L-1) cut masks, which forced the
# 8-char word cap). Each DP cell packs (total cost, n_pieces, cut mask)
# into ONE BIGINT — cost * 2^21 + n_pieces * 2^16 + mask — so min() IS
# the lexicographic (cost, fewest-pieces, lowest-mask) tie-break, and
# the winning mask rides along as its own backtrace: no backward pass,
# the existing bounds machinery re-derives the pieces from it.
UNI_WMAX = 16     # word-length cap (mask fits 15 bits of the packed cell);
                  # longer words are EXCLUDED FROM TRAINING and their
                  # freq mass is REPORTED in the '<excluded:len>' row
UNI_PMAX = 4      # seed pieces: substrings up to this length
UNI_VOCAB = 64    # multi-char seed vocabulary (top by count); chars always in
UNI_TOP = 30      # report rows
UNI_ITERS = 3     # trainer EM iterations
UNI_KEEPS = (48, 36, 27)  # multi-char vocab kept after each EM iteration
                          # (~0.75x shrink per round, SentencePiece-style;
                          # single chars are NEVER pruned — coverage)
_UNI_COST_UNIT = 2097152  # 2^21: cost field of the packed DP cell
_UNI_NP_UNIT = 65536      # 2^16: n_pieces field
_UNI_MASK_UNIT = 65536    # mask field holds <= 2^(UNI_WMAX - 1) = 2^15


def _uni_pieces_exprs(d) -> tuple[str, str]:
    """(bounds-from-mask, pieces-from-bounds) expressions — the mask that
    wins the DP IS the segmentation, so pieces are re-derived from its
    cut bits exactly as the exhaustive spelling did."""
    pow2 = "CAST(pow(2e0, {p}) AS BIGINT)"
    cut = f"(mask % {pow2.format(p='p')}) >= {pow2.format(p='p - 1')}"
    bounds = d["cat3"](
        d["arr"]("0"),
        f"{d['filt']}({d['seq']('1', 'length(word) - 1')}, p -> {cut})",
        d["arr"]("length(word)"),
    )
    piece_i = (
        f"substr(word, {d['idx']('bounds', 'i')} + 1, "
        f"{d['idx']('bounds', 'i + 1')} - {d['idx']('bounds', 'i')})"
    )
    n_bounds = d["alen"] + "(bounds) - 1"
    pieces_of_bounds = (
        f"{d['xform']}({d['seq']('1', n_bounds)}, i -> {piece_i})"
    )
    return bounds, pieces_of_bounds


def _uni_fold_expr(d) -> str:
    """The O(L * PMAX) Viterbi DP as a per-word fold. Accumulator = the
    DP array best[0..j] of packed BIGINT cells (cost * 2^21 + n_pieces *
    2^16 + mask); step j appends min over piece lengths l of
    best[j-l] + pack(cost of substr(j-l+1, l), 1 piece, cut bit 2^(j-1)
    unless j ends the word). Lexicographic (cost, np, mask) ordering is
    exact under the packing because no field overflows into the next
    (cost <= UNI_WMAX * ln(total)*1e6 stays under 2^63 / 2^21; np <=
    UNI_WMAX < 2^5; mask < 2^15), and it has optimal substructure: a
    completion adds the same (dcost, dnp, dmask) to every prefix state,
    and prefix cut bits are strictly lower than future ones."""
    cost_at = d["idx"]("carr", f"({{J}} - l) * {UNI_PMAX} + l")
    prev = d["idx"]("{ACC}", "{J} - l + 1")
    cand = (
        f"{d['filt']}({d['xform']}("
        f"{d['seq']('1', f'least({UNI_PMAX}, {{J}})')}, "
        f"l -> CASE WHEN {cost_at} IS NOT NULL THEN "
        f"{prev} + {cost_at} * {_UNI_COST_UNIT} + {_UNI_NP_UNIT} "
        f"+ CASE WHEN {{J}} < length(word) "
        f"THEN CAST(pow(2e0, {{J}} - 1) AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END END), x -> x IS NOT NULL)"
    )
    return d["fold"](d["lmin"](cand))


def _uni_estep_ctes(tag: str, vocab_rel: str, d) -> tuple[str, str]:
    """CTE block for one E+M step: Viterbi-segment `words` under
    {vocab_rel}(piece, cost6); returns (sql_fragment, mstep_rel) where
    mstep_rel holds (piece, est_count, n_words)."""
    bounds, pieces_of_bounds = _uni_pieces_exprs(d)
    frag = f"""
        {tag}g AS (
            SELECT word, freq, k, cost6 FROM (
                SELECT w.word, w.freq, (st - 1) * {UNI_PMAX} + l AS k,
                       CASE WHEN st + l - 1 <= length(w.word)
                            THEN substr(w.word, st, l) END AS piece
                FROM words w {d["grid_join"]}
            ) g LEFT JOIN {vocab_rel} v ON v.piece = g.piece
        ),
        {tag}w AS (
            SELECT word, freq, {d["ocollect"]("cost6", "k")} AS carr
            FROM {tag}g GROUP BY word, freq
        ),
        {tag}b AS (
            SELECT word, freq,
                   CAST({_uni_fold_expr(d)} % {_UNI_MASK_UNIT} AS BIGINT)
                       AS mask
            FROM {tag}w
        ),
        {tag}bp AS (
            SELECT word, freq, {pieces_of_bounds} AS pieces
            FROM (SELECT word, freq, mask, {bounds} AS bounds
                  FROM {tag}b) bb
        ),
        {tag}e AS ({d["sel_best"](f"{tag}bp")}),
        {tag}m AS (
            SELECT piece, sum(freq) AS est_count,
                   count(DISTINCT word) AS n_words
            FROM {tag}e GROUP BY piece
        )"""
    return frag, f"{tag}m"


_UNI_WORDS_ALL_BODY = """
            SELECT word, count(*) AS freq
            FROM {src}
            WHERE length(word) >= 1
            GROUP BY word
        """


def _uni_head_ctes(d, words_all_body: str | None = None) -> str:
    """Shared preamble: the word table (with the excluded-mass ledger),
    the substring seed, and the seed vocabulary vocab0(piece, cost6).
    ``words_all_body`` substitutes the words_all CTE body (the Spark side
    points it at the checkpointed uni_words_all view — words_all feeds
    words AND excl, and words feeds subs AND the DP grid, so the inline
    spelling re-ran the corpus word scan 3x per statement; the DuckDB
    oracle keeps the inline body, MATERIALIZED CTEs dedup it engine-side)."""
    sub_pieces = (
        f"flatten({d['xform']}({d['seq']('1', 'length(word)')}, st -> "
        f"{d['xform']}("
        f"{d['seq']('1', f'least({UNI_PMAX}, length(word) - st + 1)')}, "
        f"l -> substr(word, st, l))))"
    )
    wa_body = words_all_body or _UNI_WORDS_ALL_BODY.format(
        src=d["words_src"]
    )
    return f"""
        words_all AS {d["mat"]}({wa_body}),
        words AS {d["mat"]}(
            SELECT word, freq FROM words_all
            WHERE length(word) BETWEEN 2 AND {UNI_WMAX}
        ),
        excl AS (
            SELECT coalesce(sum(CASE WHEN length(word) > {UNI_WMAX}
                                     THEN freq END), 0) AS xfreq,
                   coalesce(sum(CASE WHEN length(word) > {UNI_WMAX}
                                     THEN 1 END), 0) AS xwords
            FROM words_all
        ),
        subs AS (
            SELECT piece, sum(freq) AS cnt
            FROM ({d["sel_pieces"](sub_pieces)}) sp
            GROUP BY piece
        ),
        seed0 AS (
            SELECT piece, cnt FROM subs WHERE length(piece) = 1
            UNION ALL
            SELECT piece, cnt FROM (
                SELECT piece, cnt FROM subs WHERE length(piece) >= 2
                ORDER BY cnt DESC, piece LIMIT {UNI_VOCAB}
            ) tv
        ),
        vtot AS (SELECT sum(cnt) AS t FROM seed0),
        vocab0 AS (
            SELECT piece,
                   CAST(floor(ln(t * 1e0 / cnt) * 1000000e0 + 0.501e0)
                        AS BIGINT) AS cost6
            FROM seed0 CROSS JOIN vtot
        )"""


_UNI_EXCL_ROW = (
    "SELECT '<excluded:len>' AS piece, CAST(xfreq AS BIGINT) AS est_count,"
    " CAST(xwords AS BIGINT) AS n_words, CAST(NULL AS DOUBLE) AS new_logp"
    " FROM excl"
)


def _uni_sql(d, mrel: str | None = None,
             words_all_body: str | None = None) -> str:
    """One EM step from the seed vocabulary: top-{UNI_TOP} re-estimated
    pieces plus the '<excluded:len>' mass-accounting row. ``mrel``
    overrides the m-step relation (the Spark side passes its
    checkpointed view — the tail reads the relation twice, so the inline
    spelling replayed the whole Viterbi DP; DuckDB's MATERIALIZED CTEs
    dedup it engine-side)."""
    if mrel is None:
        estep, mrel = _uni_estep_ctes("x", "vocab0", d)
        estep = f"{estep},"
    else:
        estep = ""
    return f"""
        WITH {_uni_head_ctes(d, words_all_body)},
        {estep}
        mtot AS (SELECT sum(est_count) AS t FROM {mrel})
        SELECT piece,
               CAST(est_count AS BIGINT) AS est_count,
               CAST(n_words AS BIGINT) AS n_words,
               {R("ln(est_count * 1e0 / t)", 6)} AS new_logp
        FROM (
            SELECT piece, est_count, n_words
            FROM {mrel}
            ORDER BY est_count DESC, piece
            LIMIT {UNI_TOP}
        ) head CROSS JOIN mtot
        UNION ALL
        {_UNI_EXCL_ROW}
    """


def _uni_prune_ctes(k: int, vocab_rel: str, mrel: str, d) -> str:
    """Vocabulary pruning after EM step k: keep the top UNI_KEEPS[k-1]
    multi-char pieces by estimated count, keep EVERY single char
    (SentencePiece never prunes chars — coverage), and re-derive integer
    costs from the kept counts. Zero-count chars keep their previous
    cost from {vocab_rel} — they earn no mass but remain spellable, and
    every retained cost stays a pure function of count RATIOS, which
    makes the whole trainer invariant under corpus replication."""
    keep = UNI_KEEPS[k - 1]
    return f"""
        i{k}keep AS (
            SELECT piece, est_count, n_words FROM (
                -- bounded window: the vocabulary relation (<= chars +
                -- {UNI_VOCAB} multi-char pieces)
                SELECT piece, est_count, n_words,
                       row_number() OVER (PARTITION BY (hash(piece) % 1)
                           ORDER BY est_count DESC, piece) AS rn
                FROM {mrel} WHERE length(piece) >= 2
            ) rk WHERE rn <= {keep}
            UNION ALL
            SELECT v.piece, coalesce(m.est_count, 0) AS est_count,
                   coalesce(m.n_words, 0) AS n_words
            FROM {vocab_rel} v LEFT JOIN {mrel} m ON m.piece = v.piece
            WHERE length(v.piece) = 1
        ),
        i{k}t AS (
            SELECT sum(est_count) AS t FROM i{k}keep WHERE est_count > 0
        ),
        i{k}vocab AS {d["mat"]}(
            SELECT k.piece,
                   CAST(floor(ln(t.t * 1e0 / k.est_count) * 1000000e0
                              + 0.501e0) AS BIGINT) AS cost6
            FROM i{k}keep k CROSS JOIN i{k}t t WHERE k.est_count > 0
            UNION ALL
            SELECT k.piece, v.cost6
            FROM i{k}keep k JOIN {vocab_rel} v ON v.piece = k.piece
            WHERE k.est_count = 0
        )"""


def _uni_final_select(last: int) -> str:
    return f"""
        SELECT k.piece,
               CAST(k.est_count AS BIGINT) AS est_count,
               CAST(k.n_words AS BIGINT) AS n_words,
               CASE WHEN k.est_count > 0
                    THEN {R("ln(k.est_count * 1e0 / t.t)", 6)}
                    END AS new_logp
        FROM i{last}keep k CROSS JOIN i{last}t t
        UNION ALL
        {_UNI_EXCL_ROW}
    """


def _uni_train_sql(d) -> str:
    """{UNI_ITERS} chained EM iterations with pruning, as ONE declarative
    query (the DuckDB-oracle spelling; MATERIALIZED CTEs keep each stage
    computed once). Output: the final vocabulary with its last-step
    counts and re-estimated log-probs (NULL for zero-count chars) plus
    the excluded-mass row."""
    parts = [_uni_head_ctes(d)]
    vocab_rel = "vocab0"
    for k in range(1, UNI_ITERS + 1):
        estep, mrel = _uni_estep_ctes(f"i{k}", vocab_rel, d)
        parts.append(estep)
        parts.append(_uni_prune_ctes(k, vocab_rel, mrel, d))
        vocab_rel = f"i{k}vocab"
    return f"WITH {','.join(parts)}{_uni_final_select(UNI_ITERS)}"


_UNI_SPARK_ARGS = dict(
    words_src=("documents LATERAL VIEW explode("
               "split(lower(text), '[^a-z]+')) t AS word"),
    swords_src=("documents LATERAL VIEW explode("
                "split(lower(text), '[^a-z]+')) t AS word"),
    sel_pieces=lambda expr: (
        f"SELECT freq, piece FROM words "
        f"LATERAL VIEW explode({expr}) px AS piece"
    ),
    sel_best=lambda rel: (
        f"SELECT word, freq, piece "
        f"FROM {rel} LATERAL VIEW explode(pieces) pb AS piece"
    ),
    grid_join=(f"LATERAL VIEW explode(sequence(1, length(w.word))) "
               f"s AS st LATERAL VIEW explode(sequence(1, {UNI_PMAX})) "
               f"ll AS l"),
    # collect_list drops NULL elements, so ride each cost inside a
    # struct keyed by the grid index and strip it after the sort
    ocollect=lambda expr, key: (
        f"transform(sort_array(collect_list(struct({key} AS k, "
        f"{expr} AS v))), s -> s.v)"
    ),
    fold=lambda best: (
        "element_at(aggregate(sequence(1, length(word)), "
        "array(CAST(0 AS BIGINT)), (acc, j) -> concat(acc, array("
        + best.replace("{J}", "j").replace("{ACC}", "acc")
        + "))), length(word) + 1)"
    ),
    lmin=lambda lst: f"array_min({lst})",
    mat="",
    filt="filter",
    xform="transform",
    alen="size",
    seq=lambda a, b: f"sequence({a}, {b})",
    idx=lambda a, i: f"element_at({a}, {i})",
    cat3=lambda a, b, c: f"concat({a}, {b}, {c})",
    arr=lambda x: f"array({x})",
)

_UNI_DUCK_ARGS = dict(
    words_src=("(SELECT unnest(string_split_regex(lower(text), "
               "'[^a-z]+')) AS word FROM documents) wt"),
    swords_src=("(SELECT source, unnest(string_split_regex(lower(text), "
                "'[^a-z]+')) AS word FROM documents) wt"),
    sel_pieces=lambda expr: (
        f"SELECT freq, unnest({expr}) AS piece FROM words"
    ),
    sel_best=lambda rel: (
        f"SELECT word, freq, unnest(pieces) AS piece FROM {rel}"
    ),
    grid_join=(f"CROSS JOIN unnest(range(1, length(w.word) + 1)) "
               f"AS s(st) CROSS JOIN unnest(range(1, {UNI_PMAX} + 1)) "
               f"AS ll(l)"),
    ocollect=lambda expr, key: f"list({expr} ORDER BY {key})",
    # list_reduce's accumulator must share the element type, so the
    # positions fold as 1-element lists prepended with the DP seed
    fold=lambda best: (
        "(list_reduce(list_prepend([CAST(0 AS BIGINT)], "
        "list_transform(range(1, length(word) + 1), "
        "j -> [CAST(j AS BIGINT)])), "
        "(acc, jj) -> list_append(acc, "
        + best.replace("{J}", "jj[1]").replace("{ACC}", "acc")
        + ")))[length(word) + 1]"
    ),
    lmin=lambda lst: f"list_aggregate({lst}, 'min')",
    mat="MATERIALIZED ",
    filt="list_filter",
    xform="list_transform",
    alen="len",
    seq=lambda a, b: f"range({a}, ({b}) + 1)",
    idx=lambda a, i: f"{a}[{i}]",
    cat3=lambda a, b, c: f"({a} || {b} || {c})",
    arr=lambda x: f"[{x}]",
)


def unigram_lm_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact unigram-LM tokenizer EM step (Kudo 2018) over the
    documents word table: seed vocabulary = all single chars + the top
    {UNI_VOCAB} substrings (length 2..{UNI_PMAX}) by freq-weighted count;
    E-step = exact O(L * {UNI_PMAX}) Viterbi DP per distinct word under
    canon-floored integer costs -ln(p)*1e6 (ties: fewest pieces, then
    lowest cut mask — packed-BIGINT lexicographic min, see
    _uni_fold_expr); M-step = grouped re-estimation of piece counts
    weighted by word frequency. Returns the top-{UNI_TOP} pieces with
    their expected counts and re-estimated log-probs, PLUS the
    '<excluded:len>' accounting row: the freq mass and distinct count of
    words longer than {UNI_WMAX} chars that the cap excludes from
    training (round-11 verdict item 5 — a cap that drops data must say
    how much it dropped).

    Scale shape: one corpus scan builds the distinct-word table
    (vocabulary-bounded by Heaps' law — |V|, never corpus rows); every
    later relation (substring counts, the L x {UNI_PMAX} DP grid, the
    vocab join — broadcast-sized at {UNI_VOCAB}+chars rows) grows with
    |V| only, and the per-word DP is a bounded integer fold, not a
    2^(L-1) lattice. This is the EM shape a 100 TB tokenizer trainer
    repeats: corpus touched once, model state bounded.

    Spark spelling (round-13): words_all and the m-step relation are
    checkpointed — words_all feeds words AND excl (and words feeds subs
    AND the DP grid) while the report tail reads the m-step twice, so
    the pure-inline form re-ran the corpus scan 3x and the Viterbi DP
    2x per action. The DuckDB oracle keeps the single-statement
    MATERIALIZED-CTE spelling — an independent formulation of the same
    algebra."""
    load_tables(spark, sf_dir)
    d = _UNI_SPARK_ARGS
    _uni_words_all_view(spark, d)
    wa = "SELECT * FROM uni_words_all"
    head = _uni_head_ctes(d, words_all_body=wa)
    estep, mrel = _uni_estep_ctes("x", "vocab0", d)
    materialize(spark.sql(
        f"WITH {head},{estep} SELECT * FROM {mrel}"
    )).createOrReplaceTempView("uni_em_m")
    return spark.sql(_uni_sql(d, mrel="uni_em_m", words_all_body=wa))


QUERIES["unigram_lm_em_step"] = unigram_lm_em_step
ORACLE["unigram_lm_em_step"] = _uni_sql(_UNI_DUCK_ARGS)


def unigram_lm_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full unigram-LM tokenizer trainer: {UNI_ITERS} EM iterations
    with SentencePiece-style vocabulary pruning between steps (keep the
    top UNI_KEEPS[k] multi-char pieces by estimated count after step k;
    single chars are never pruned — coverage), emitted as the final
    vocabulary with last-step counts and log-probs plus the
    '<excluded:len>' mass row. Zero-count chars keep their previous
    cost — they earn no probability mass but stay spellable, and every
    retained cost is a pure function of count RATIOS, which makes the
    whole trainer invariant under corpus replication (asserted by the
    sf~1 growth study).

    Spark spelling: the `words` relation and each iteration's ~90-row
    vocabulary are MATERIALIZED between EM steps (session.materialize +
    temp views — the per-level-materialize shape the PCA/k-core chains
    established; inlining all {UNI_ITERS} iterations as one CTE chain
    blows Catalyst's resolution fixed-point). The DuckDB oracle runs the
    same algebra as one chained MATERIALIZED-CTE query. Corpus touched
    once (the words scan); every EM step is vocabulary-bounded.

    Proven equal to an independent pure-Python EM implementation at
    {UNI_ITERS} iterations (tests/test_round12_ops.py)."""
    load_tables(spark, sf_dir)
    d = _UNI_SPARK_ARGS
    _uni_vocab_views(spark, UNI_ITERS - 1)
    last = UNI_ITERS
    # checkpoint the final step's DP output too: the final select reads
    # its keep relation twice (rows + total), which would otherwise
    # replay the DP per reference
    mview = _uni_m_view(spark, f"i{last}", f"uni_vocab_{last - 1}", d)
    prune = _uni_prune_ctes(last, f"uni_vocab_{last - 1}", mview, d)
    return spark.sql(
        f"WITH excl AS (SELECT * FROM uni_excl),"
        f"{prune}{_uni_final_select(last)}"
    )


_UNI_STEP_HEAD = "words AS (SELECT * FROM uni_words)"


def _uni_words_all_view(spark: SparkSession, d) -> None:
    """Checkpoint the corpus word table ONCE as uni_words_all — it feeds
    words AND excl (and words feeds subs AND every DP grid), so the
    inline spelling re-ran the corpus scan per reference."""
    materialize(spark.sql(
        _UNI_WORDS_ALL_BODY.format(src=d["words_src"])
    )).createOrReplaceTempView("uni_words_all")


def _uni_m_view(spark: SparkSession, tag: str, vocab_rel: str, d) -> str:
    """Run ONE E+M step (the Viterbi DP — the expensive part of every
    iteration) and checkpoint its m-step relation as uni_m_{tag}. The
    prune/report tails read the m-step 2x and their keep relation 3x,
    so the inline spelling replayed the whole DP several times per
    iteration."""
    estep, mrel = _uni_estep_ctes(tag, vocab_rel, d)
    materialize(spark.sql(
        f"WITH {_UNI_STEP_HEAD},{estep} SELECT * FROM {mrel}"
    )).createOrReplaceTempView(f"uni_m_{tag}")
    return f"uni_m_{tag}"


def _uni_vocab_views(spark: SparkSession, iters: int) -> None:
    """Materialize uni_words / uni_excl / uni_vocab_0..uni_vocab_{iters}
    temp views — the per-iteration-materialized Spark spelling of the EM
    chain (each vocab is ~90 rows; the corpus is scanned once for the
    word table). Shared by unigram_lm_trained (through iters-1, final
    step inline) and unigram_encode_stats (through UNI_ITERS). Each
    iteration checkpoints its m-step DP output first (_uni_m_view), so
    the prune query runs over ~120-row checkpointed relations."""
    d = _UNI_SPARK_ARGS
    _uni_words_all_view(spark, d)
    head = _uni_head_ctes(d, words_all_body="SELECT * FROM uni_words_all")
    materialize(
        spark.sql(f"WITH {head} SELECT * FROM words")
    ).createOrReplaceTempView("uni_words")
    # excl is a 1-row aggregate over the checkpointed word table,
    # referenced once per report — a plain view suffices
    spark.sql(
        f"WITH {head} SELECT * FROM excl"
    ).createOrReplaceTempView("uni_excl")
    materialize(
        spark.sql(f"WITH {head} SELECT * FROM vocab0")
    ).createOrReplaceTempView("uni_vocab_0")
    for k in range(1, iters + 1):
        mview = _uni_m_view(spark, f"i{k}", f"uni_vocab_{k - 1}", d)
        prune = _uni_prune_ctes(k, f"uni_vocab_{k - 1}", mview, d)
        materialize(
            spark.sql(
                f"WITH {prune} SELECT piece, cost6 FROM i{k}vocab"
            )
        ).createOrReplaceTempView(f"uni_vocab_{k}")


QUERIES["unigram_lm_trained"] = unigram_lm_trained
ORACLE["unigram_lm_trained"] = _uni_train_sql(_UNI_DUCK_ARGS)


def _uni_encode_tail(d) -> str:
    """From swords(source, word, freq) + encbp(word, freq, pieces):
    per-word piece stats, the 1-char-word closed form (np = n1 = 1 — at
    ENCODE time, unlike training, single-letter words are legitimate
    single-piece tokens), and the per-source rollup with the excluded
    share column (words beyond UNI_WMAX are not encodable under the
    packed-mask DP and are REPORTED, never silently dropped)."""
    one_len = f"{d['filt']}(pieces, p -> length(p) = 1)"
    return f"""
        wseg AS (
            SELECT word, {d["alen"]}(pieces) AS np,
                   {d["alen"]}({one_len}) AS n1
            FROM encbp
        ),
        wall AS (
            SELECT word, 1 AS np, 1 AS n1
            FROM (SELECT DISTINCT word FROM swords
                  WHERE length(word) = 1) c1
            UNION ALL
            SELECT word, np, n1 FROM wseg
        ),
        sagg AS (
            SELECT s.source,
                   sum(CASE WHEN length(s.word) <= {UNI_WMAX}
                            THEN s.freq ELSE 0 END) AS ntok,
                   sum(CASE WHEN length(s.word) <= {UNI_WMAX}
                            THEN s.freq * a.np ELSE 0 END) AS npc,
                   sum(CASE WHEN length(s.word) <= {UNI_WMAX}
                            THEN s.freq * a.n1 ELSE 0 END) AS n1c,
                   sum(CASE WHEN length(s.word) > {UNI_WMAX}
                            THEN s.freq ELSE 0 END) AS nexcl,
                   sum(s.freq) AS nall
            FROM swords s LEFT JOIN wall a ON a.word = s.word
            GROUP BY s.source
        )
        SELECT source,
               CAST(ntok AS BIGINT) AS n_tokens,
               CAST(npc AS BIGINT) AS n_pieces,
               {R("npc * 1e0 / ntok", 6)} AS fertility,
               {R("n1c * 1e0 / npc", 6)} AS single_char_piece_share,
               {R("nexcl * 1e0 / nall", 6)} AS excluded_token_share
        FROM sagg
        ORDER BY source
    """


def _uni_swords_cte(d) -> str:
    return f"""swords AS {d["mat"]}(
            SELECT source, word, count(*) AS freq
            FROM {d["swords_src"]}
            WHERE length(word) >= 1
            GROUP BY source, word
        )"""


def _uni_encode_sql(d) -> str:
    """Oracle spelling: train the vocabulary ({UNI_ITERS} chained EM
    iterations with pruning) and apply it — segment every distinct word
    once under the final costs, then roll piece statistics up per
    source."""
    parts = [_uni_head_ctes(d), _uni_swords_cte(d)]
    vocab_rel = "vocab0"
    for k in range(1, UNI_ITERS + 1):
        estep, mrel = _uni_estep_ctes(f"i{k}", vocab_rel, d)
        parts.append(estep)
        parts.append(_uni_prune_ctes(k, vocab_rel, mrel, d))
        vocab_rel = f"i{k}vocab"
    enc, _ = _uni_estep_ctes("enc", vocab_rel, d)
    parts.append(enc)
    return f"WITH {','.join(parts)},{_uni_encode_tail(d)}"


def unigram_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained unigram tokenizer (the {UNI_ITERS}-iteration
    vocabulary of unigram_lm_trained): Viterbi-segment every distinct
    corpus word once under the final piece costs, then report per-source
    encoding statistics — token count, piece count, fertility
    (pieces per word, THE tokenizer-quality number every pretraining
    team tracks per source), the single-char-piece share (fallback-
    heavy sources tokenize to letters), and the excluded-token share
    (words beyond the {UNI_WMAX}-char DP cap, reported not dropped).

    Scale shape: segmentation runs over the DISTINCT word table (|V|,
    Heaps-bounded), NEVER per token; the per-source rollup joins the
    (source, word) counts — one corpus scan — against the |V|-row
    segmentation. This is how a 100 TB pipeline prices a tokenizer per
    domain before committing to it."""
    load_tables(spark, sf_dir)
    d = _UNI_SPARK_ARGS
    _uni_vocab_views(spark, UNI_ITERS)
    # checkpoint the per-(source, word) counts: the encode tail reads
    # swords twice (the 1-char closed form + the rollup join), which
    # would otherwise re-run the corpus scan per reference
    materialize(spark.sql(
        f"SELECT source, word, count(*) AS freq "
        f"FROM {d['swords_src']} "
        f"WHERE length(word) >= 1 GROUP BY source, word"
    )).createOrReplaceTempView("uni_swords")
    enc, _ = _uni_estep_ctes("enc", f"uni_vocab_{UNI_ITERS}", d)
    return spark.sql(
        f"WITH {_UNI_STEP_HEAD},"
        f"swords AS (SELECT * FROM uni_swords),{enc},"
        f"{_uni_encode_tail(d)}"
    )


QUERIES["unigram_encode_stats"] = unigram_encode_stats
ORACLE["unigram_encode_stats"] = _uni_encode_sql(_UNI_DUCK_ARGS)
