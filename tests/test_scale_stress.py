"""Scale-stress tests: run the core operator shapes on ~10M synthesized
rows (16× the sf0.1 fact table) and on a deliberately skewed join, checking
(a) exact correctness under replication algebra and (b) that AQE's skew
machinery engages when partitions blow past the (lowered) thresholds.

These synthesize data in memory via crossJoin(range) — no files — so they
exercise shuffle/aggregation paths at a volume the parquet fixtures don't
reach locally."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

REPL = 16


@pytest.fixture(scope="module")
def big_lineitem(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    return li.crossJoin(spark.range(REPL).select(F.col("id").alias("rep")))


def test_aggregation_correct_at_16x(spark, big_lineitem):
    """Replicating every row 16× must scale counts and sums by exactly 16 —
    an exact correctness check of the shuffle/aggregate path at volume."""
    base = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
        .collect()
    )
    big = {
        r.l_returnflag: r
        for r in big_lineitem.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
        .collect()
    }
    for r in base:
        assert big[r.l_returnflag].n == r.n * REPL
        assert abs(big[r.l_returnflag].q - r.q * REPL) < 1e-6 * abs(r.q * REPL)


def test_join_correct_at_16x(spark, big_lineitem):
    """Join cardinality under replication: |big ⋈ orders| = 16 × |li ⋈ orders|."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    base_n = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    big_n = big_lineitem.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).count()
    assert big_n == base_n * REPL


def test_aqe_skew_join_engages(spark):
    """A 95%-hot-key join with lowered AQE skew thresholds must still
    complete with correct counts, and the executed plan must show the
    skew-handled sort-merge join (isSkew=true)."""
    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        n = 400_000
        left = spark.range(n).select(
            F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1000).select(F.col("id").alias("k"))
        joined = left.join(right, "k")
        # collect the frame itself so ITS adaptive plan is the one finalized
        # (count() would run a separate query execution)
        got = len(joined.collect())
        # expected: hot key 7 (95% of left) matches right's single 7-row;
        # non-hot ids divisible by 20 match right iff id < 1000
        hot = sum(1 for i in range(n) if i % 20 != 0)
        cold = sum(1 for i in range(n) if i % 20 == 0 and i < 1000)
        assert got == hot + cold
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
        assert "AQEShuffleRead coalesced and skewed" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pagerank_invariant_under_replication(spark, big_lineitem):
    """Uniform 16× replication multiplies every edge weight by 16 but leaves
    the NORMALIZED transition matrix — and therefore the ranks — unchanged.
    A strong exactness check of the whole iteration pipeline at volume."""
    from database_toolbox_spark.operators.graph import (
        pagerank_from_views,
        pagerank_top_nodes,
    )
    from database_toolbox_spark.session import load_tables

    base = [(r.node, r.rank) for r in pagerank_top_nodes(spark, SF_DIR).collect()]
    load_tables(spark, SF_DIR)
    big_lineitem.createOrReplaceTempView("lineitem")
    try:
        big = [(r.node, r.rank) for r in pagerank_from_views(spark).collect()]
    finally:
        load_tables(spark, SF_DIR, replace=True)  # restore the real view
    assert big == base


def test_zorder_bounds_invariant_under_replication(spark):
    """Replicating orders 16× must leave every z-bucket's min/max bounds
    unchanged and scale its row count by exactly 16."""
    from database_toolbox_spark.operators.partitioning import zorder_bucket_stats
    from database_toolbox_spark.session import load_tables

    base = {r.z_bucket: r for r in zorder_bucket_stats(spark, SF_DIR).collect()}
    load_tables(spark, SF_DIR)
    rep = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .crossJoin(spark.range(REPL).select(F.col("id").alias("rep")))
        .drop("rep")
    )
    rep.createOrReplaceTempView("orders")
    try:
        from database_toolbox_spark.operators.partitioning import _zorder_sql

        big = {
            r.z_bucket: r
            for r in spark.sql(_zorder_sql(
                "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')"
            )).collect()
        }
    finally:
        load_tables(spark, SF_DIR, replace=True)
    assert base.keys() == big.keys()
    for k, b in base.items():
        g = big[k]
        assert g.n_rows == b.n_rows * REPL
        assert (g.min_custkey, g.max_custkey) == (b.min_custkey, b.max_custkey)
        assert (g.min_date, g.max_date) == (b.min_date, b.max_date)


def test_minhash_pair_algebra_under_replication(spark):
    """Replicate documents K times with disjoint doc_id ranges: signatures
    are per-doc, so the near-dup pair multiset is exactly predictable —
    every original pair (a,b) appears K*K times (each copy of a with each
    copy of b) and every doc gains C(K,2) self-copy pairs at Jaccard 1.
    An exact correctness check of shingle→signature→band→verify at volume."""
    from database_toolbox_spark.operators.dedup import minhash_near_dup_pairs
    from database_toolbox_spark.session import load_tables

    k = 4
    base = minhash_near_dup_pairs(spark, SF_DIR).collect()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    load_tables(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    shift = 10_000_000
    rep = (
        docs.crossJoin(spark.range(k).select(F.col("id").alias("rep")))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * shift)
        .drop("rep")
    )
    rep.createOrReplaceTempView("documents")
    try:
        big = minhash_near_dup_pairs(spark, SF_DIR).collect()
    finally:
        load_tables(spark, SF_DIR, replace=True)
    self_pairs = [r for r in big if r.doc_a % shift == r.doc_b % shift]
    cross_pairs = [r for r in big if r.doc_a % shift != r.doc_b % shift]
    # C(k,2) self-copy pairs per doc, all exact duplicates
    assert len(self_pairs) == n_docs * k * (k - 1) // 2
    assert all(r.jaccard == 1.0 for r in self_pairs)
    # each original pair appears k*k times with the original jaccard
    base_j = {(r.doc_a, r.doc_b): r.jaccard for r in base}
    assert len(cross_pairs) == len(base) * k * k
    for r in cross_pairs:
        a, b = r.doc_a % shift, r.doc_b % shift
        key = (min(a, b), max(a, b))
        assert base_j[key] == r.jaccard


def _synthetic_vocab_rich_docs(spark, n: int):
    """n distinct documents of 30 md5-derived tokens each: a vocabulary-rich
    corpus (unlike the small-vocab fixture) where simhash signatures spread
    near-uniformly — the regime real pretraining corpora live in."""
    return spark.range(n).selectExpr(
        "id AS doc_id",
        "array_join(transform(sequence(1, 30),"
        " i -> substr(md5(concat(id, ':', i)), 1, 8)), ' ') AS text",
    )


def test_simhash_wide_banding_is_selective_and_subquadratic(spark):
    """The scale claim behind simhash_near_dup_pairs_wide: 15-bit bands
    (32,768 buckets) must collapse candidate volume vs the 4-bit demo bands
    (16 buckets), and per-doc candidate load must stay O(1) as the corpus
    doubles — the narrow width's per-doc load grows linearly with corpus
    size (Θ(n²) total), which is exactly what cannot survive 100×."""
    from database_toolbox_spark.operators.dedup import (
        PAIR_BITS,
        WIDE_BITS,
        simhash_band_candidate_count,
    )
    from database_toolbox_spark.session import load_tables

    load_tables(spark, SF_DIR)
    counts = {}
    try:
        for n in (1000, 2000):
            _synthetic_vocab_rich_docs(spark, n).createOrReplaceTempView(
                "documents"
            )
            counts[("wide", n)] = simhash_band_candidate_count(
                spark, n_bits=WIDE_BITS
            )
            counts[("narrow", n)] = simhash_band_candidate_count(
                spark, n_bits=PAIR_BITS
            )
    finally:
        load_tables(spark, SF_DIR, replace=True)
    # narrow 16-bit: ~n²/32 per band → hundreds of candidates PER DOC
    # wide 60-bit: birthday-bounded → well under 1 candidate per doc
    for n in (1000, 2000):
        assert counts[("wide", n)] < n, counts
        assert counts[("narrow", n)] > 50 * counts[("wide", n)], counts
    # doubling the corpus must not quadruple the wide per-doc load:
    # allow 2.5x per-doc growth headroom over strictly-linear total growth
    assert counts[("wide", 2000)] <= 5 * max(counts[("wide", 1000)], 20), counts


def test_connected_components_long_chain_and_forest(spark):
    """The star/pointer-jumping CC loop must close a 300-node chain
    (diameter 299 — far beyond any recursion depth cap; pointer jumping
    needs only ~log2(300) rounds) and keep disjoint components separate."""
    from database_toolbox_spark.operators.dedup import connected_components

    chain = spark.range(299).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    stars = spark.range(5).selectExpr(
        "1000 + id * 10 AS doc_a", "1000 + id * 10 + 1 AS doc_b"
    )
    labels = {
        r.node: r.label
        for r in connected_components(chain.unionByName(stars)).collect()
    }
    assert all(labels[n] == 0 for n in range(300))
    for k in range(5):
        assert labels[1000 + k * 10] == 1000 + k * 10
        assert labels[1000 + k * 10 + 1] == 1000 + k * 10


def test_connected_components_raises_when_rounds_exhausted(spark, monkeypatch):
    """Exhausting the round budget with labels still moving must fail
    loudly, never return unconverged (wrong) components silently."""
    from database_toolbox_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_MAX_ITERS", 1)
    chain = spark.range(63).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain)


def test_two_pass_ntile_equals_window_under_replication(spark):
    """The two-pass exact-rank ntile must agree with the global-window
    spelling on a 16x-replicated customer table — every balance value now
    has 16 exact ties with distinct custkeys, so this hammers the
    tie-splitting-across-bins invariant (equal keys share a bin; custkey
    order decides the quartile boundary)."""
    from database_toolbox_spark.operators.windows import (
        customer_balance_quartiles,
    )
    from database_toolbox_spark.session import load_tables

    load_tables(spark, SF_DIR)
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    shift = 10_000_000
    rep = (
        cust.crossJoin(spark.range(REPL).select(F.col("id").alias("rep")))
        .withColumn("c_custkey", F.col("c_custkey") + F.col("rep") * shift)
        .drop("rep")
    )
    rep.createOrReplaceTempView("customer")
    try:
        two_pass = {
            r.c_custkey: r.quartile
            for r in customer_balance_quartiles(spark, SF_DIR).collect()
        }
        direct = {
            r.c_custkey: r.quartile
            for r in spark.sql("""
                SELECT c_custkey,
                       ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey)
                           AS quartile
                FROM customer
            """).collect()
        }
    finally:
        load_tables(spark, SF_DIR, replace=True)
    assert len(two_pass) == cust.count() * REPL
    assert two_pass == direct


def test_segment_dedup_replication_algebra(spark):
    """Replicate documents K times with disjoint id ranges: keep-FIRST
    segment dedup is exactly predictable — the rep-0 block (smallest ids,
    same relative order as the base corpus) reproduces the base kept
    counts verbatim, and every rep>0 copy keeps NOTHING (all its segments
    were already claimed by rep 0). An exact correctness check of the
    global first-occurrence rule at volume."""
    from database_toolbox_spark.operators.curation import segment_dedup_kept
    from database_toolbox_spark.session import load_tables

    k = 4
    base = {r.doc_id: r for r in segment_dedup_kept(spark, SF_DIR).collect()}
    load_tables(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    shift = 10_000_000
    rep = (
        docs.crossJoin(F.broadcast(spark.range(k).select(F.col("id").alias("rep"))))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * shift)
        .drop("rep")
    )
    rep.createOrReplaceTempView("documents")
    try:
        big = segment_dedup_kept(spark, SF_DIR).collect()
    finally:
        load_tables(spark, SF_DIR, replace=True)
    assert len(big) == k * len(base)
    for r in big:
        orig = base[r.doc_id % shift]
        assert r.n_segments == orig.n_segments
        if r.doc_id < shift:  # rep-0 block = the base corpus, verbatim
            assert (r.n_kept, r.n_dropped, r.kept_tokens) == (
                orig.n_kept, orig.n_dropped, orig.kept_tokens
            )
        else:  # later copies keep nothing
            assert r.n_kept == 0 and r.kept_tokens == 0
            assert r.n_dropped == r.n_segments


def test_prefix_filter_jaccard_exact_and_selective(spark):
    """AllPairs prefix filtering must (a) return EXACTLY the all-pairs
    Jaccard ≥ τ result — pruning is a candidate-generation strategy, not a
    semantics change — and (b) generate strictly fewer candidate pairs
    than share-any-shingle blocking (the subquadratic claim: prefixes
    touch only each doc's rarest n - ceil(τ·n) + 1 shingles)."""
    from database_toolbox_spark.operators.dedup import (
        _PREFIX_CAND_CTES,
        _SH_CTE,
        _shingles,
        jaccard_prefix_filter_pairs,
        ngram_jaccard_pairs,
    )
    from database_toolbox_spark.session import load_tables

    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(spark, SF_DIR).collect()
    }
    pruned = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_prefix_filter_pairs(spark, SF_DIR).collect()
    }
    assert pruned == exact and exact  # identical, and non-trivial

    load_tables(spark, SF_DIR)
    _shingles(spark)
    n_full = spark.sql(f"""
        {_SH_CTE}
        SELECT count(*) AS c FROM (
            SELECT DISTINCT x.doc_id, y.doc_id
            FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
        )
    """).collect()[0].c
    n_prefix = spark.sql(
        f"{_PREFIX_CAND_CTES} SELECT count(*) AS c FROM cand"
    ).collect()[0].c
    assert len(exact) <= n_prefix < n_full


def test_source_overlap_invariant_under_replication(spark):
    """Source overlap is SET algebra: replicating every document 4× (new
    doc_ids, same text/source) must leave the DISTINCT (source, shingle)
    relation — hence n_common, Jaccard, containment — bit-identical."""
    from database_toolbox_spark.operators.dedup import source_overlap_matrix
    from database_toolbox_spark.session import load_tables

    base = {(r.source_a, r.source_b): r
            for r in source_overlap_matrix(spark, SF_DIR).collect()}
    load_tables(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rep = (
        docs.crossJoin(F.broadcast(spark.range(4).select(F.col("id").alias("rep"))))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * 10_000_000)
        .drop("rep")
    )
    rep.createOrReplaceTempView("documents")
    try:
        big = {(r.source_a, r.source_b): r
               for r in source_overlap_matrix(spark, SF_DIR).collect()}
    finally:
        load_tables(spark, SF_DIR, replace=True)
    assert big.keys() == base.keys()
    for k, b in base.items():
        g = big[k]
        assert (g.n_common, g.jaccard, g.containment) == (
            b.n_common, b.jaccard, b.containment
        )


def test_covariance_replication_algebra(spark):
    """Exact k× replication algebra for the covariance matrix: the
    pair sums scale by k, so sample cov transforms as
    cov_k = cov_1 · k(n−1)/(kn−1) — assert the closed form (and corr
    invariance) instead of a loose tolerance."""
    import math

    from database_toolbox_spark.operators.profile import embedding_covariance
    from database_toolbox_spark.session import load_tables

    k = 4
    base = {(r.i, r.j): r for r in embedding_covariance(spark, SF_DIR).collect()}
    n = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    load_tables(spark, SF_DIR)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rep = (
        emb.crossJoin(F.broadcast(spark.range(k).select(F.col("id").alias("rep"))))
        .withColumn("vec_id", F.col("vec_id") + F.col("rep") * 10_000_000)
        .drop("rep")
    )
    rep.createOrReplaceTempView("embeddings")
    try:
        big = {(r.i, r.j): r
               for r in embedding_covariance(spark, SF_DIR).collect()}
    finally:
        load_tables(spark, SF_DIR, replace=True)
    scale = k * (n - 1) / (k * n - 1)
    for key, b in base.items():
        g = big[key]
        assert g.n == k * n
        assert math.isclose(g.cov, b.cov * scale, rel_tol=5e-3, abs_tol=2e-6)
        assert math.isclose(g.corr, b.corr, abs_tol=2e-6)
