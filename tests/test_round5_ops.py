"""Round-5 process hardening (VERDICT r4 "Next round" items 1-4):

- the bench regression gate must flag a genuine 2x slowdown even in a
  contended (high-spread) run — round 4's spread-gated filter masked
  exactly that case;
- `simhash_near_dup_pairs_narrow` is demoted from the registry (measured
  21x super-linear at 10x rows) but keeps cross-engine parity as a
  direct-call test;
- SWEEP_CURRENT.json (maintained by scripts/driver_check.py) must cover
  the whole registry with every entry ok — a query can no longer land
  after the final sweep and ship unchecked.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import compute_regressions
from database_toolbox_spark.operators import all_queries
from tests.conftest import compare_with_oracle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------- bench gate


def test_regression_gate_flags_2x_in_contended_run():
    """The round-4 masking case: a plan regressed to ~2.5x and ALSO got
    noisy; the old `delta > 2*spread` gate stayed silent. The 2x-ceiling
    gate (median-based when spread > prev) must flag it."""
    prev = {"q": 1.0}
    timings = {"q": 2.5}   # min of 3
    medians = {"q": 2.9}
    spreads = {"q": 3.0}   # contended: spread dwarfs prev
    out = compute_regressions(timings, spreads, medians, prev)
    assert "q" in out and out["q"]["gate"] == "2x-ceiling", out


def test_regression_gate_ignores_contention_spike():
    """A single contention spike (min back at prev, median near prev, huge
    spread) is NOT a regression — min-of-3 reached steady state."""
    prev = {"q": 1.0}
    out = compute_regressions(
        {"q": 1.02}, {"q": 9.0}, {"q": 1.9}, prev
    )
    assert out == {}, out


def test_regression_gate_spread_term_is_capped():
    """High spread widens the jitter band only to 1 s: min-of-3 at 1.6x
    prev with +1.2 s absolute delta flags even when 2*spread would have
    demanded +10 s."""
    prev = {"q": 2.0}
    out = compute_regressions(
        {"q": 3.2}, {"q": 5.0}, {"q": 3.4}, prev
    )
    assert "q" in out and out["q"]["gate"] == "jitter", out


def test_regression_gate_noise_switch_is_relative():
    """Round-5 advice: the noisy-run switch compared this run's ABSOLUTE
    jitter against the previous round's total timing — so a multi-second
    query almost never took the median path. Relative gate (spread >
    0.3*prev): a 10 s query whose min reached steady state but whose
    median doubled under real noise (spread 9.5 s < prev 10 s — the old
    switch stayed on min and saw nothing) must now flag via the median."""
    prev = {"q": 10.0}
    out = compute_regressions(
        {"q": 11.0}, {"q": 9.5}, {"q": 21.0}, prev
    )
    assert "q" in out and out["q"]["gate"] == "2x-ceiling", out


def test_regression_gate_quiet_run_small_delta_ok():
    """Sub-quarter-second deltas on a quiet run stay unflagged (local[32]
    run-to-run noise, not plan regressions)."""
    prev = {"q": 0.30}
    out = compute_regressions(
        {"q": 0.52}, {"q": 0.05}, {"q": 0.55}, prev
    )
    assert out == {}, out


# ------------------------------------------------- narrow simhash demotion


def test_simhash_narrow_not_registered():
    import __spark_entry__ as entry

    assert "simhash_near_dup_pairs_narrow" not in all_queries()
    assert "simhash_near_dup_pairs_narrow" not in entry.queries()
    assert "simhash_near_dup_pairs_narrow" not in entry.oracle_sql()


def test_simhash_narrow_parity(spark, ddb):
    """The demoted demo keeps its cross-engine parity pin here (it used to
    live in the registry sweep)."""
    from database_toolbox_spark.operators.dedup import (
        SIMHASH_NARROW_ORACLE,
        simhash_near_dup_pairs_narrow,
    )

    compare_with_oracle(
        spark, ddb, simhash_near_dup_pairs_narrow, SIMHASH_NARROW_ORACLE
    )


# ----------------------------------------------------- sweep-current ledger


def test_sweep_ledger_covers_registry():
    """Every registry query must have a green SWEEP_CURRENT.json entry.

    scripts/driver_check.py updates the ledger on every spot-check and
    rewrites it on full sweeps; adding a query without driver-checking it
    turns this test red, which is the round-4 'sweep-last' failure made
    structurally impossible."""
    with open(os.path.join(REPO, "SWEEP_CURRENT.json")) as f:
        ledger = json.load(f)
    registry = set(all_queries())
    entries = ledger["queries"]
    missing = sorted(registry - set(entries))
    assert not missing, f"registry queries never driver-checked: {missing}"
    bad = sorted(n for n in registry if not entries[n]["ok"])
    assert not bad, f"registry queries with failing driver-check: {bad}"
    assert ledger["n_registry"] == len(registry)


def test_bench_headline_subset_of_registry():
    from bench import HEADLINE

    registry = set(all_queries())
    missing = sorted(set(HEADLINE) - registry)
    assert not missing, missing


# ------------------------------------------- fingerprint-tier invariants
# Parity (Spark == DuckDB) is the sweep's job; these pin that the operators
# compute the right THING (validation-loop step 3).


def _with_docs(spark, rows, sql_text):
    """Run sql_text against a synthetic `documents` view, restoring the
    parquet-backed view afterwards (load_tables is register-if-absent, so
    a leaked override would poison every later test)."""
    from database_toolbox_spark.session import load_table
    from tests.conftest import SF_DIR

    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
        " n_chars int"
    )
    df.createOrReplaceTempView("documents")
    try:
        return spark.sql(sql_text).collect()
    finally:
        load_table(spark, SF_DIR, "documents", replace=True)


def test_winnowing_guarantee_shared_run(spark):
    """SIGMOD'03 guarantee: two docs sharing a token run of length >=
    W + k - 1 = 6 share at least one selected fingerprint."""
    from database_toolbox_spark.operators.fingerprints import (
        _SPARK_POS_SHINGLES,
        _winnow_fp_cte,
    )

    shared = "alpha bravo charlie delta echo foxtrot"
    rows = [
        (1, f"q1 q2 q3 q4 {shared} q5 q6 q7 q8", "en", "a", 0),
        (2, f"z1 z2 z3 {shared} z4 z5 z6 z7 z8 z9", "en", "a", 0),
    ]
    fps = _with_docs(
        spark,
        rows,
        f"{_SPARK_POS_SHINGLES}, {_winnow_fp_cte()} SELECT doc_id, fp FROM fp",
    )
    a = {r.fp for r in fps if r.doc_id == 1}
    b = {r.fp for r in fps if r.doc_id == 2}
    assert a & b, "6-token shared run produced no shared fingerprint"


def test_winnowing_density_bounds(spark):
    """Observed fingerprint density must sit inside the theoretical
    corridor: > 1/W (every W consecutive windows contribute >= 1 distinct
    position pre-dedup; DISTINCT over values plus duplicated text can
    only lower it so keep a loose floor) and <= 1."""
    from database_toolbox_spark.operators.fingerprints import (
        winnowing_fingerprint_stats,
    )
    from tests.conftest import SF_DIR

    for r in winnowing_fingerprint_stats(spark, SF_DIR).collect():
        assert 0.02 < r.fp_density <= 1.0, r
        assert r.n_fingerprints <= r.n_shingles


def test_cdc_insertion_locality(spark):
    """The LBFS property: prepending tokens to a doc only perturbs chunks
    up to the first boundary after the edit — the chunk-hash multiset of
    the suffix past that boundary is unchanged."""
    from database_toolbox_spark.operators.fingerprints import (
        _SPARK_POS_TOKENS,
        _cdc_sql,
    )

    base = " ".join(f"tok{i}" for i in range(200))
    rows = [
        (1, base, "en", "a", 0),
        (2, "inserted words here " + base, "en", "a", 0),
    ]
    # reuse the operator's chunking CTEs but emit per-chunk hashes
    sql = _cdc_sql(
        _SPARK_POS_TOKENS,
        "concat_ws(' ', transform(array_sort(collect_list(struct(pos, tok))),"
        " x -> x.tok))",
    )
    sql = sql[: sql.index("SELECT d.source")] + (
        "SELECT doc_id, chunk_hash FROM chunks"
    )
    chunks = _with_docs(spark, rows, sql)
    h1 = sorted(r.chunk_hash for r in chunks if r.doc_id == 1)
    h2 = sorted(r.chunk_hash for r in chunks if r.doc_id == 2)
    common = len(set(h1) & set(h2))
    # doc 2 differs only in its first chunk(s); nearly all chunks shared
    assert common >= len(h1) - 2, (len(h1), len(h2), common)


def test_idf_cosine_exact_dup_is_one(spark):
    """Exact-duplicate docs share every shingle at identical weights, so
    their rarity-weighted cosine is exactly 1.0; an unrelated doc never
    pairs; and every reported pair clears the 0.6 threshold."""
    from database_toolbox_spark.operators.dedup import _SPARK_SHINGLES
    from database_toolbox_spark.operators.fingerprints import _idf_cosine_sql

    twin = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (1, twin, "en", "a", 0),
        (2, twin, "en", "a", 0),
        (3, "one two three four five six seven eight", "en", "a", 0),
    ]
    pairs = _with_docs(spark, rows, _idf_cosine_sql(_SPARK_SHINGLES))
    got = {(r.doc_a, r.doc_b): r.cosine for r in pairs}
    assert got == {(1, 2): 1.0}, got


def test_idf_cosine_corpus_pairs_above_threshold(spark):
    from database_toolbox_spark.operators.fingerprints import (
        idf_cosine_dup_pairs,
    )
    from tests.conftest import SF_DIR

    for r in idf_cosine_dup_pairs(spark, SF_DIR).collect():
        assert 0.6 - 1e-6 <= r.cosine <= 1.0, r


def test_stl_identity(spark):
    """The decomposition must be exact pre-rounding: revenue == trend +
    seasonal + resid within the stacked output-rounding tolerance."""
    from database_toolbox_spark.operators.stats import (
        stl_decomposition_daily,
    )
    from tests.conftest import SF_DIR

    rows = stl_decomposition_daily(spark, SF_DIR).collect()
    assert len(rows) > 300
    for r in rows:
        assert abs(r.revenue - (r.trend + r.seasonal + r.resid)) < 6e-3, r


def test_stl_seasonal_is_weekly(spark):
    """Seasonal component takes at most 7 distinct values (one per
    weekday) and its doc-weighted mean is ~0 (detrended means)."""
    from database_toolbox_spark.operators.stats import (
        stl_decomposition_daily,
    )
    from tests.conftest import SF_DIR

    rows = stl_decomposition_daily(spark, SF_DIR).collect()
    assert len({r.seasonal for r in rows}) <= 7
    mean_season = sum(r.seasonal for r in rows) / len(rows)
    mean_rev = sum(r.revenue for r in rows) / len(rows)
    assert abs(mean_season) < 0.05 * abs(mean_rev)


def test_ann_recall_bounds(spark):
    """Recall@10 is a fraction of a 10-element truth set per query, and
    every panel query reports."""
    from database_toolbox_spark.operators.similarity import (
        N_KNN_QUERIES,
        ann_recall_eval,
    )
    from tests.conftest import SF_DIR

    rows = ann_recall_eval(spark, SF_DIR).collect()
    assert len(rows) == N_KNN_QUERIES
    for r in rows:
        assert 0 <= r.n_hits <= 10
        assert abs(r.recall_at_10 - r.n_hits / 10) < 1e-9


def test_grid_density_partition(spark):
    """Cluster rows + the noise row partition the corpus exactly: point
    counts sum to the corpus size, and no cluster reuses a component id."""
    from database_toolbox_spark.operators.clustering import (
        grid_density_clusters,
    )
    from database_toolbox_spark.session import load_table
    from tests.conftest import SF_DIR

    rows = grid_density_clusters(spark, SF_DIR).collect()
    n_vecs = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(r.n_points for r in rows) == n_vecs
    comps = [r.component for r in rows]
    assert len(comps) == len(set(comps))
    assert comps[0] == -1  # noise row always present (possibly 0-count)
    for r in rows:
        if r.component != -1:
            assert r.n_points >= 5 * 1  # every cluster has >= minpts points


def test_embedding_outliers_shape(spark):
    """Every label reports exactly OUTLIER_TOP ranked outliers with
    z-scores non-increasing in rank."""
    from database_toolbox_spark.operators.clustering import (
        OUTLIER_TOP,
        embedding_outlier_scores,
    )
    from tests.conftest import SF_DIR

    rows = embedding_outlier_scores(spark, SF_DIR).collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r)
    for label, rs in by_label.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, OUTLIER_TOP + 1))
        zs = [r.z_score for r in rs]
        assert zs == sorted(zs, reverse=True), (label, zs)
        assert zs[0] > 0  # the top outlier is above its label mean


def test_fightin_words_overrepresentation(spark):
    """The rank-1 distinctive term of each source must actually be
    over-represented: its in-source frequency share exceeds its share in
    the rest of the corpus."""
    from collections import Counter

    from database_toolbox_spark.operators.text import (
        distinctive_terms_by_source,
    )
    from database_toolbox_spark.session import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "text"
    ).collect()
    counts: dict[str, Counter] = {}
    for r in docs:
        counts.setdefault(r.source, Counter()).update(r.text.split(" "))
    top = {
        r.source: r.term
        for r in distinctive_terms_by_source(spark, SF_DIR).collect()
        if r.rnk == 1
    }
    assert set(top) == set(counts)
    for source, term in top.items():
        ns = sum(counts[source].values())
        n_rest = sum(sum(c.values()) for s, c in counts.items() if s != source)
        k = counts[source][term]
        k_rest = sum(c[term] for s, c in counts.items() if s != source)
        assert k / ns > k_rest / max(n_rest, 1), (source, term)


def test_ks_matches_python_recount(spark):
    """The KS D statistic must equal an exact Python ECDF recount (one
    source vs rest, integer cross-multiplied sup-norm)."""
    from fractions import Fraction

    from database_toolbox_spark.operators.stats import (
        ks_divergence_by_source,
    )
    from database_toolbox_spark.session import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "n_chars"
    ).collect()
    rows = ks_divergence_by_source(spark, SF_DIR).collect()
    assert len(rows) == len({r.source for r in docs})
    by_src = {r.source: r for r in rows}
    source = sorted(by_src)[0]
    xs = sorted({r.n_chars for r in docs})
    a = sorted(r.n_chars for r in docs if r.source == source)
    b = sorted(r.n_chars for r in docs if r.source != source)
    import bisect

    d = max(
        abs(
            Fraction(bisect.bisect_right(a, x), len(a))
            - Fraction(bisect.bisect_right(b, x), len(b))
        )
        for x in xs
    )
    assert abs(by_src[source].ks_d - float(d)) < 1e-5
    for r in rows:
        assert 0 <= r.ks_d <= 1 and r.n_docs > 0


def test_mutual_nn_each_vector_in_at_most_one_pair(spark):
    """Top-1 is unique per vector, so mutual pairs form a matching: no
    vec_id may appear twice; pairs are canonically ordered."""
    from database_toolbox_spark.operators.similarity import mutual_nn_pairs
    from tests.conftest import SF_DIR

    rows = mutual_nn_pairs(spark, SF_DIR).collect()
    assert rows, "fixture corpus should contain at least one mutual pair"
    seen = set()
    for r in rows:
        assert r.vec_a < r.vec_b
        assert -1.000001 <= r.cosine <= 1.000001
        for v in (r.vec_a, r.vec_b):
            assert v not in seen, f"vec {v} in two mutual pairs"
            seen.add(v)


def test_split_leakage_conserves_pairs(spark):
    """The leakage matrix partitions the verified near-dup pair set:
    totals must match minhash_near_dup_pairs exactly, diagonal rows must
    report zero leaks, off-diagonal rows all-leaks."""
    from database_toolbox_spark.operators.dedup import minhash_near_dup_pairs
    from database_toolbox_spark.operators.fingerprints import (
        split_leakage_audit,
    )
    from tests.conftest import SF_DIR

    n_pairs = minhash_near_dup_pairs(spark, SF_DIR).count()
    rows = split_leakage_audit(spark, SF_DIR).collect()
    assert sum(r.n_near_dup_pairs for r in rows) == n_pairs
    for r in rows:
        if r.split_a == r.split_b:
            assert r.n_leaked == 0, r
        else:
            assert r.n_leaked == r.n_near_dup_pairs, r


# ------------------------------------------------- round-5 second tranche


def test_gopher_flags_partition(spark):
    """Per-source counts are self-consistent: every fail count <= n_docs,
    n_pass <= n_docs - max(single-rule fails), and pass_rate recomputes
    from n_pass / n_docs."""
    from database_toolbox_spark.operators.curation import gopher_quality_flags
    from tests.conftest import SF_DIR

    rows = gopher_quality_flags(spark, SF_DIR).collect()
    assert rows, "no sources"
    for r in rows:
        fails = [r.fail_word_count, r.fail_mean_len, r.fail_symbol_ratio,
                 r.fail_alpha_words, r.fail_stopwords]
        assert all(0 <= f <= r.n_docs for f in fails)
        assert 0 <= r.n_pass <= r.n_docs - max(fails)
        assert abs(r.pass_rate - round(r.n_pass / r.n_docs, 4)) < 1e-3
        # synthetic corpus: all-lowercase words, no '#'/'...' tokens
        assert r.fail_symbol_ratio == 0
        assert r.fail_alpha_words == 0


def test_quality_signal_correlations_anchor(spark):
    """|r| <= 1 for all pairs, and the (n_words, ttr) correlation matches
    a numpy recomputation from the same parquet (external anchor — parity
    alone can't catch both engines computing the wrong statistic)."""
    import duckdb
    import numpy as np

    from database_toolbox_spark.operators.curation import (
        quality_signal_correlations,
    )
    from tests.conftest import SF_DIR

    rows = quality_signal_correlations(spark, SF_DIR).collect()
    assert len(rows) == 6
    for r in rows:
        assert r.pearson_r is None or abs(r.pearson_r) <= 1.0 + 1e-9
    got = {(r.sig_a, r.sig_b): r.pearson_r for r in rows}
    df = duckdb.connect().execute(
        f"SELECT len(string_split(text,' ')) AS n, "
        f"len(list_distinct(string_split(text,' '))) AS u "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).df()
    n = df.n.to_numpy(dtype=float)
    ttr = df.u.to_numpy(dtype=float) / n
    anchor = np.corrcoef(n, ttr)[0, 1]
    assert abs(got[("n_words", "ttr")] - anchor) < 1e-3


def test_dp_noised_counts_bounded_and_deterministic(spark):
    """Laplace noise from the half-integer md5 uniform is bounded by
    ln(2^32)/eps ~ 22.18 and the release is a pure function of the key —
    two runs must be identical."""
    from database_toolbox_spark.operators.profile import dp_noised_counts
    from tests.conftest import SF_DIR

    a = dp_noised_counts(spark, SF_DIR).collect()
    b = dp_noised_counts(spark, SF_DIR).collect()
    assert a == b
    assert a
    for r in a:
        assert abs(r.n_released - r.n_true) <= 22.19


def test_embedding_robust_scaler_anchor(spark):
    """Quartile ordering per dim, Bowley skew in [-1, 1], and dim 0's cuts
    match numpy's linear-interpolation percentile (type 7 — the method
    both percentile() and quantile_cont implement)."""
    import duckdb
    import numpy as np

    from database_toolbox_spark.operators.profile import (
        embedding_robust_scaler,
    )
    from tests.conftest import SF_DIR

    rows = embedding_robust_scaler(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.p25 <= r.median <= r.p75
        assert r.iqr >= 0
        if r.bowley_skew is not None:
            assert -1.0 - 1e-9 <= r.bowley_skew <= 1.0 + 1e-9
    v = duckdb.connect().execute(
        f"SELECT embedding[1] AS x "
        f"FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    ).df().x.to_numpy(dtype=float)
    d0 = next(r for r in rows if r.dim == 0)
    for col, q in (("p25", 25), ("median", 50), ("p75", 75)):
        assert abs(getattr(d0, col) - np.percentile(v, q)) < 1e-4


def test_bloom_membership_guarantee(spark):
    """The Bloom contract: zero false negatives everywhere; the build
    source probes back perfectly (every token maybe AND truly present);
    false positives exist only outside the exact set."""
    from database_toolbox_spark.operators.sketches import (
        BLOOM_BUILD_SRC,
        bloom_token_membership,
    )
    from tests.conftest import SF_DIR

    rows = bloom_token_membership(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_false_negative == 0, r.source
        assert r.n_maybe == r.n_truly + r.n_false_positive
        assert r.n_truly <= r.n_tokens
        if r.source == BLOOM_BUILD_SRC:
            assert r.n_maybe == r.n_tokens == r.n_truly


def test_ohlc_bars_consistent(spark):
    """Every bar: low <= open/close <= high; bar event counts sum to the
    table count; a directly-computed first/last anchor for one bar."""
    import duckdb

    from database_toolbox_spark.operators.events import (
        event_value_ohlc_hourly,
    )
    from database_toolbox_spark.session import load_table
    from tests.conftest import SF_DIR

    rows = event_value_ohlc_hourly(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.low_value <= r.open_value <= r.high_value
        assert r.low_value <= r.close_value <= r.high_value
    n_events = load_table(spark, SF_DIR, "events").count()
    assert sum(r.n_events for r in rows) == n_events
    anchor = duckdb.connect().execute(
        f"""
        SELECT first(value ORDER BY ts, event_id) AS first_v,
               last(value ORDER BY ts, event_id) AS last_v
        FROM (SELECT * FROM read_parquet('{SF_DIR}/events.parquet')
              WHERE date_trunc('hour', ts) = (
                  SELECT min(date_trunc('hour', ts))
                  FROM read_parquet('{SF_DIR}/events.parquet')))
        """
    ).fetchone()
    first_bar = rows[0]
    assert abs(first_bar.open_value - round(anchor[0], 2)) < 0.011
    assert abs(first_bar.close_value - round(anchor[1], 2)) < 0.011


def test_kcore_peeling_cascades_on_chain(spark):
    """A path graph peels from both ends — one round per layer — so the
    bounded loop must emit several strictly-shrinking rounds and end
    empty (the 2-core of a tree is empty). The TPC-H graph converges in
    one round; this synthetic chain exercises the cascade the fixture
    cannot."""
    from database_toolbox_spark.operators.graph import (
        kcore_rounds_from_edges,
    )

    path = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(9)], "src string, dst string"
    )
    rows = kcore_rounds_from_edges(spark, path, k=2).collect()
    assert len(rows) >= 3  # round 0 + at least two peeling rounds
    edges = [r.n_edges for r in rows]
    assert edges == sorted(edges, reverse=True)
    assert all(a > b for a, b in zip(edges, edges[1:]))
    assert rows[-1].n_edges == 0 and rows[-1].n_nodes == 0


def test_kcore_fixture_core_is_a_core(spark):
    """Every node surviving the fixture peel really has degree >= K inside
    the surviving subgraph (the defining k-core property), recomputed
    independently in DuckDB."""
    import duckdb

    from database_toolbox_spark.operators.graph import (
        KCORE_K,
        kcore_decomposition,
    )
    from tests.conftest import SF_DIR

    rows = kcore_decomposition(spark, SF_DIR).collect()
    assert rows[0].round == 0
    if rows[-1].n_edges == 0:
        return
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    from database_toolbox_spark.operators.graph import _kcore_oracle

    # the oracle's final level IS the core; check its min internal degree
    final = con.execute(_kcore_oracle()).df()
    assert final.iloc[-1].n_edges == rows[-1].n_edges
    min_deg = con.execute(f"""
        WITH e AS (
            SELECT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1, 2 HAVING count(*) >= 2
        ),
        eu AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        it AS (
            SELECT src, count(*) AS c FROM eu GROUP BY src
        ),
        keep AS (SELECT src FROM it WHERE c >= {KCORE_K}),
        core AS (
            SELECT e.src, e.dst FROM eu e
            JOIN keep a ON a.src = e.src JOIN keep b ON b.src = e.dst
        )
        SELECT min(c) FROM (SELECT src, count(*) AS c FROM core GROUP BY src)
    """).fetchone()[0]
    assert min_deg is None or min_deg >= KCORE_K


def test_code_switch_bounds_and_extremes(spark):
    """Scores live in [0,1]; a pure-English-marker doc scores 0, an even
    en/de marker mix scores ln(2)/ln(4) = 0.5 exactly."""
    from database_toolbox_spark.operators.text import (
        _code_switch_sql,
        code_switch_scores,
    )
    from tests.conftest import SF_DIR

    for r in code_switch_scores(spark, SF_DIR).collect():
        assert 0.0 <= r.code_switch_score <= 1.0 + 1e-9
        if r.n_langs_hit <= 1:
            assert r.code_switch_score == 0.0
    rows = _with_docs(
        spark,
        [
            (1, "the and is of table", "en", "a", 0),
            (2, "the und and der", "en", "a", 0),
        ],
        _code_switch_sql("split(text, ' ')", "size", "filter"),
    )
    by_id = {r.doc_id: r for r in rows}
    assert by_id[1].code_switch_score == 0.0
    assert abs(by_id[2].code_switch_score - 0.5) < 1e-6


def test_content_digest_partition_invariance(spark):
    """The XOR digest must be identical under any partitioning/order, and
    must flip when one row's content changes."""
    from database_toolbox_spark.operators.profile import (
        source_content_digests,
    )
    from database_toolbox_spark.session import load_table
    from tests.conftest import SF_DIR

    base = {r.source: r.xor_digest
            for r in source_content_digests(spark, SF_DIR).collect()}
    docs = load_table(spark, SF_DIR, "documents")
    try:
        docs.repartition(7, "lang").createOrReplaceTempView("documents")
        rep = {r.source: r.xor_digest
               for r in source_content_digests(spark, SF_DIR).collect()}
        assert rep == base
        docs.selectExpr(
            "doc_id",
            "CASE WHEN doc_id = 0 THEN concat(text, ' x') ELSE text END"
            " AS text",
            "lang", "source", "n_chars",
        ).createOrReplaceTempView("documents")
        mut = {r.source: r.xor_digest
               for r in source_content_digests(spark, SF_DIR).collect()}
        changed = [s for s in base if mut[s] != base[s]]
        assert len(changed) == 1
    finally:
        load_table(spark, SF_DIR, "documents", replace=True)


def test_dhash_pairs_exact_recall_small_hamming(spark):
    """Brute-force verification: every doc pair within Hamming <= 3 MUST
    appear (pigeonhole over the 4 bands is exact there), every reported
    pair must respect the <= 6 threshold, and doc_a < doc_b throughout."""
    from database_toolbox_spark.operators.multimodal import (
        DHASH_HAM_MAX,
        _dhash_hashed,
        image_dhash_near_dup_pairs,
    )
    from tests.conftest import SF_DIR

    got = {(r.doc_a, r.doc_b): r.hamming
           for r in image_dhash_near_dup_pairs(spark, SF_DIR).collect()}
    for (a, b), h in got.items():
        assert a < b and 0 <= h <= DHASH_HAM_MAX
    hs = {r.doc_id: (r.dhash_hi, r.dhash_lo)
          for r in _dhash_hashed(spark, SF_DIR).collect()}
    ids = sorted(hs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = (
                bin(hs[a][0] ^ hs[b][0]).count("1")
                + bin(hs[a][1] ^ hs[b][1]).count("1")
            )
            if ham <= 3:
                assert (a, b) in got and got[(a, b)] == ham
            if (a, b) in got:
                assert got[(a, b)] == ham


def test_anisotropy_anchor(spark):
    """anisotropy in [0, 1] (Jensen), the ALL row matches a direct numpy
    recomputation, and per-label rows exist for every label."""
    import duckdb
    import numpy as np

    from database_toolbox_spark.operators.similarity import (
        embedding_anisotropy,
    )
    from tests.conftest import SF_DIR

    rows = embedding_anisotropy(spark, SF_DIR).collect()
    by_label = {r.label: r for r in rows}
    assert "ALL" in by_label
    for r in rows:
        assert 0.0 <= r.anisotropy <= 1.0 + 1e-9
    emb = np.stack(
        duckdb.connect().execute(
            f"SELECT embedding FROM "
            f"read_parquet('{SF_DIR}/embeddings.parquet') ORDER BY vec_id"
        ).df().embedding.to_numpy()
    ).astype(float)
    mu = emb.mean(axis=0)
    want = float((mu @ mu) / (emb * emb).sum(axis=1).mean())
    assert abs(by_label["ALL"].anisotropy - want) < 1e-4
    assert by_label["ALL"].n_vecs == emb.shape[0]


def test_padding_stats_accounting(spark):
    """Bucket rows partition the corpus; bucketing never pads more than
    the global-max batch; waste fractions in [0, 1)."""
    from database_toolbox_spark.operators.pipeline import (
        length_bucket_padding_stats,
    )
    from tests.conftest import SF_DIR

    rows = length_bucket_padding_stats(spark, SF_DIR).collect()
    buckets = [r for r in rows if r.bucket != "GLOBAL_MAX"]
    g = next(r for r in rows if r.bucket == "GLOBAL_MAX")
    assert sum(r.n_docs for r in buckets) == g.n_docs
    assert sum(r.real_tokens for r in buckets) == g.real_tokens
    assert sum(r.padded_tokens for r in buckets) <= g.padded_tokens
    for r in rows:
        assert r.padded_tokens >= r.real_tokens
        assert 0.0 <= r.waste_fraction < 1.0
        if r.bucket != "GLOBAL_MAX":
            assert r.real_tokens <= int(r.bucket) * r.n_docs
