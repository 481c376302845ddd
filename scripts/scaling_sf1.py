#!/usr/bin/env python
"""Extend the scaling study past sf0.1: synthesize a ~sf1 (10x) corpus
with KNOWN growth algebra and re-measure the round-3 verdict's
superlinear suspects, ASSERTING (not eyeballing) that candidate volumes
grow linearly, never quadratically.

Synthesis (all derived from sf0.1, written to $SPARK_GRAFT_SFBIG_DIR,
default /tmp/sfbig):

- documents x10: replica r > 0 suffixes every token with `_r`. Token
  bijection preserves every within-replica Jaccard EXACTLY while making
  cross-replica vocabularies disjoint, so the true near-dup pair set of
  the big corpus is exactly 10 copies of the small one — a closed-form
  ground truth for the pair-count assertions.
- embeddings x10: replica r > 0 multiplies coordinates by a seeded +-1
  sign pattern. A diagonal sign matrix is orthogonal: within-replica
  cosines are preserved EXACTLY, cross-replica cosines collapse toward
  0 — same linear ground truth for the semantic-dedup tier.
- orders + lineitem x10: keys shifted per replica -> 10 disjoint copies
  of the supplier<->customer bipartite graph (BFS's frontier work stays
  constant while scan volume grows 10x).
- remaining tables copied as-is.

Prints one JSON line and rewrites the "sf0.1 -> sf~1" section of
SCALING.md. Exits non-zero if any growth assertion fails.

Run from repo root (idle machine): python scripts/scaling_sf1.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from database_toolbox_spark.operators import all_queries
from database_toolbox_spark.session import TABLES, get_spark
from database_toolbox_spark.session import measured, noop_write, warm_up

SF_SMALL = "/root/testdata/sf0.1"
BIG = os.environ.get("SPARK_GRAFT_SFBIG_DIR", "/tmp/sfbig")
R = 10
SHIFT = 10_000_000

# (query, assertion mode) — modes:
#   exact10: big pair count == 10x small (token-bijection ground truth)
#   linear:  big <= 1.5 * 10x small + 20 (probabilistic banding jitter)
#   cells:   metric is the EXAMINED-pair bound sum(n_vectors^2) over
#            cells — the quantity SemDeDup's scale claim bounds (with
#            k scaling by corpus size, per-cell work is constant, so
#            examined pairs grow linearly). Drop-candidate counts are
#            NOT asserted: the fixture-tuned tau=0.4 demo threshold
#            catches the ~0.3% chance-cosine tail between sign-flip
#            replicas (true pairs of the synthetic corpus, threshold
#            noise, not algorithm work). big <= 2 * 10x small.
#   overhead: the fixture's tiny vocabulary saturates simhash signatures,
#            so the TRUE Hamming-ball pair set itself grows
#            super-linearly (a data property no algorithm can beat —
#            the output IS the pairs). The algorithmic claim to assert
#            is that the banded join's candidate volume stays O(true
#            pairs): candidates/output overhead must not grow > 2.5x.
#   report:  runtime/rows recorded, no count assertion (documented
#            anti-pattern demo or non-pair-producing query)
SUSPECTS = [
    ("ngram_jaccard_pairs", "exact10"),
    ("jaccard_prefix_filter_pairs", "exact10"),
    ("minhash_near_dup_pairs", "linear"),
    ("simhash_near_dup_pairs_wide", "overhead"),
    ("semdedup_drop_candidates", "cells"),
    # `simhash_near_dup_pairs_narrow` was measured here through round 4
    # (53.4 s, 21.3x at 10x rows) and is now DEMOTED from the registry on
    # the strength of that measurement — it no longer appears in
    # all_queries(), so it is dropped from SUSPECTS too.
    ("bigram_lm_scores", "report"),
    ("bfs_reachable_hops", "report"),
    # event tier: user-shifted replicas keep every per-user computation
    # intact, so sessions / as-of matches / interval joins are exactly
    # 10 copies of the base result
    ("sessionize_lag_method", "exact10"),
    ("asof_last_click", "exact10"),
    ("interval_join_error_clicks", "exact10"),
    ("user_session_windows", "exact10"),
    # round-5 tranche. Token bijection keeps positional k-gram structure
    # and df-rarity buckets intact within a replica and vocabularies
    # disjoint across replicas, so the idf-cosine pair set is exactly 10
    # copies. Winnowing is NOT exact10: its window-minimum SELECTION is a
    # function of the hash values, and the bijection (t -> t_r) rerolls
    # every k-gram hash, so each replica selects a different fingerprint
    # subset and the MIN_SHARED=3 pair threshold lands differently per
    # replica (measured: 3992 vs 10x394 — ±1.5% jitter around 10x, the
    # same hash-reroll fluctuation banded MinHash shows) — assert linear
    # headroom instead. The k-core graph is 10 disjoint copies, so every
    # peeling round's (n_nodes, n_edges) must be exactly 10x (kcore10).
    # OHLC bars share hours across user-shifted replicas: per-bar
    # n_events is 10x and high/low are value-identical (ohlc10).
    ("winnowing_dup_pairs", "linear"),
    ("idf_cosine_dup_pairs", "exact10"),
    ("kcore_decomposition", "kcore10"),
    ("event_value_ohlc_hourly", "ohlc10"),
    # report-only: output domains are fixed-size (source rows / calib
    # buckets) so row counts carry no growth signal; runtimes recorded.
    # bloom saturates by design at 10x vocab (4096-bit budget) - the
    # false-positive column is the evidence, not a failure.
    ("bigram_heldout_perplexity", "report"),
    ("minhash_estimate_calibration", "report"),
    ("bloom_token_membership", "report"),
    ("image_dhash_near_dup_pairs", "report"),
    # round-5 tranche F. Token bijection gives each replica a disjoint
    # vocabulary, so per-doc char entropy rows are exactly 10x (values
    # differ — the suffixes change the char mix); the LSH budget's band
    # keys reroll per replica like banded MinHash, so the ALL-row
    # candidate budget gets the same linear headroom. Event-tier ops on
    # user-shifted replicas are 10 identical session sets at the SAME
    # timestamps: every per-day concurrency is 10x base with the same
    # first-peak instant (conc10), and every SCD2 version chain is a
    # 10x copy (scdx10: counts 10x, gap stats and coverage identical).
    # Orders/lineitem replicas keep prices and baskets intact, so the
    # weighted median is value-identical at 10x weight (wmed10), the
    # basket rule list is identical with 10x pair counts (basket10),
    # and the DiD estimate must be untouched by dim-orphan
    # replica facts (did10 — the customer dim is deliberately not
    # replicated).
    # Round 9: BOTH co-purchase-projection ops (local_clustering_
    # coefficient, link_prediction_scores) now run the CAPPED projection
    # (per part, the LCC_CAP smallest custkeys before pairing), closing
    # the registry's last uncapped quadratic-under-fixed-catalog shape.
    # LCC carries the capbound assertion below; link prediction shares
    # the identical projection, so one examined-pairs bound covers both.
    # entlin (round 8): exact10 rows AND time_ratio <= 10 — the corpus
    # grows 13.3x in BYTES (every token gains an '_r' suffix), so a
    # sub-10x time at 10x rows proves the rewrite is sub-linear-in-rows
    # (measured 4.97x after the shuffle-free Arrow-UDF rewrite; the old
    # explode/GROUP BY spelling measured 15.27x in round 6)
    ("char_entropy_scores", "entlin"),
    ("kneser_ney_heldout_perplexity", "report"),
    ("rake_keyword_scores", "report"),
    ("kmv_distinct_estimate", "report"),
    ("lsh_candidate_budget", "budget10lin"),
    ("concurrent_sessions_peak", "conc10"),
    ("scd2_integrity_audit", "scdx10"),
    ("basket_association_rules", "basket10"),
    ("weighted_median_price", "wmed10"),
    ("diff_in_diff_revenue", "did10"),
    # round-6 tranche, all on the key-shifted order/lineitem replicas
    # (shared part catalog, dim-orphan customer joins) — one generic
    # spec-driven comparator (mix10): named columns must be exactly-10x
    # (within rounding grids) or replica-invariant. rfm terciles get a
    # small absolute slack: a base customer whose 10-copy rank block
    # straddles a tercile boundary can legitimately split buckets.
    ("vwap_monthly_brand", "mix10"),
    ("max_drawdown_revenue", "mix10"),
    ("changepoint_daily_revenue", "mix10"),
    ("linear_trend_by_segment", "mix10"),
    ("extreme_value_return_levels", "mix10"),
    ("graph_degree_assortativity", "mix10"),
    ("rfm_migration_matrix", "mix10"),
    ("position_attribution_by_day", "mix10"),
    ("url_normalized_dedup", "mix10"),
    # report-only: md5 fold/bucket keys reroll under shifted ids or a
    # suffixed vocabulary, so outputs change while the WORK stays the
    # plan shape documented in each docstring (bounded candidate set /
    # k linear passes / fixed model state)
    ("textrank_keywords", "report"),
    ("dsir_importance_weights", "report"),
    ("farthest_point_sample", "report"),
    # round-6 tranche E/F: capture pair counts are exactly 10x under
    # user-shifted event replicas (Chapman then agrees to O(1/m));
    # logrank joins the unreplicated customer dim (orphan invariance);
    # quantile normalization sees the same per-source length
    # distribution at 10x mass (percent ranks shift only at (n-1)
    # denominators); the A/B health table reads only the customer dim
    # (untouched by the synthesis -> byte-identical rows).
    # round-8: the CAPPED co-purchase projection is the scale-safe
    # spelling of this study's one documented quadratic cap point (the
    # uncapped projection grows ~quadratically under the shared part
    # catalog). capinv = collected output must be BYTE-IDENTICAL at 10x:
    # replica custkeys are block-shifted upward, so the smallest-key cap
    # keeps exactly the base customers and the bounded pair work — the
    # direct counter-demonstration.
    ("copurchase_capped_pairs", "capinv"),
    # round-9: LCC now runs the CAPPED projection (graph.LCC_CAP smallest
    # custkeys per part before pairing). capbound = the examined-pair
    # work sum C(min(n, CAP), 2) must SATURATE to exactly
    # n_parts * C(CAP, 2) on the 10x replicas (every part's customer
    # list is >= CAP there) and stay <= 1.2x the sf0.1 value — 10x data,
    # ~1.03x pair work; the uncapped sum C(n, 2) would grow ~100x.
    ("local_clustering_coefficient", "capbound"),
    ("capture_recapture_estimate", "mix10"),
    ("logrank_test_segments", "mix10"),
    ("quantile_normalization_by_source", "mix10"),
    ("ab_experiment_health", "mix10"),
    ("hll_intersection_estimate", "mix10"),
    # round-9 tranche: order replicas are new problems with identical
    # (n, c) attempt profiles -> n_problems exactly 10x, the micro-grid
    # mean is the SAME double (10a/10b rounds like a/b); user-shifted
    # event replicas clone every (user, day) stream -> pattern counts
    # exactly 10x, rates invariant; the compaction planner's inventory
    # grows ~10x files (report + linear time envelope — planning cost is
    # O(files), the one corpus-grain pass is a grouped count).
    ("pass_at_k_estimates", "mix10"),
    ("event_pattern_matches", "mix10"),
    ("compaction_bin_packing", "report"),
    # round-9 third tranche. Replica facts carry SHIFTED custkeys, so
    # every op that inner-joins (or left-joins the dim side of) customer
    # sees only the base rows — ratio CI and the forecast reconciliation
    # must be BYTE-INVARIANT under 10x orphan inserts (the did10
    # pattern); median CI / BH / bloom planner read untouched dims.
    # Newsvendor demand is exactly 10x per (brand, day) (replica
    # lineitems keep partkey+shipdate), so the order statistic scales
    # exactly; UCB pulls are 10x with byte-equal means ((10c)/(10n)
    # rounds like c/n). msprt/prf/fold-stability/logistic reroll md5
    # folds or suffixed vocabularies -> report mode (plan-shape bound).
    ("newsvendor_stock_levels", "mix10"),
    ("ucb_arm_allocation", "mix10"),
    ("median_ci_order_stats", "mix10"),
    ("bh_fdr_brand_price", "mix10"),
    ("ratio_metric_delta_ci", "mix10"),
    ("bloom_sizing_planner", "mix10"),
    ("hierarchical_forecast_reconciliation", "mix10"),
    ("msprt_ab_monitor", "report"),
    ("logistic_gd_step", "report"),
    # round-10 (verdict item 4): the retrieval tier gets an ASSERTED
    # growth row. timelin = output row count IDENTICAL at both scales
    # (fixed top-K heads — any growth means a head stopped being a head)
    # AND time_ratio <= 10 at 10x rows / 13.3x bytes: the inverted-index
    # tf relation is linear by construction, and this enforces that no
    # stage (scoring join, feedback mining, ranking) degrades it. The
    # suffixed vocabulary rerolls term stats, so VALUES are not
    # comparable — the envelope is rows + time, like entlin.
    ("bm25_top_terms", "timelin"),
    ("prf_expanded_search", "timelin"),
    # round-12 (round-11 verdict item 1): growth rows for the round-11/12
    # tranche. decon10 = the report head is LIMIT-bounded (rows <=
    # DECON_TOP recorded), so the asserted growth quantity is the
    # PRE-LIMIT contaminated-doc count (dedup.decon_contaminated_count):
    # token bijection makes replica eval slices share grams ONLY with
    # their own replica's training docs, so it must be EXACTLY 10x; time
    # ratio <= 10 (one corpus scan + broadcast join). The JPEG decode ops
    # are per-doc capped (JPEG_CAP/JPEG_RGB_CAP/JPEG_420_CAP blocks), so
    # rows are exactly 10x and time rides the linear envelope (entlin).
    # The tokenizer EM ops are mix10 on the PIECE key: the '_r' suffix
    # splits off under the [^a-z]+ word split, so the 10x corpus yields
    # the IDENTICAL word table at 10x freq — est counts exactly 10x,
    # n_words / log-probs byte-invariant (costs are pure count RATIOS,
    # including the trainer's zero-count-char cost carry). DoReMi domain
    # counts are exactly 10x with old_share invariant (the suffixed
    # vocabulary shifts stopword features, so losses are recorded, not
    # asserted). Mondrian conformal is timelin: one row per source, and
    # the md5 fold parity rerolls on shifted doc_ids so values move.
    # containment_dup_pairs joins the measured prefix-filter family:
    # containment is preserved exactly within a replica and vocabularies
    # are disjoint across replicas -> pairs exactly 10x.
    ("ngram_decontamination", "decon10"),
    ("image_jpeg_stats", "entlin"),
    ("image_jpeg_rgb_stats", "entlin"),
    ("image_jpeg_420_stats", "entlin"),
    ("unigram_lm_em_step", "mix10"),
    ("unigram_lm_trained", "mix10"),
    ("doremi_domain_weights", "mix10"),
    ("mondrian_conformal_coverage", "timelin"),
    ("containment_dup_pairs", "exact10"),
    # tokenizer APPLICATION: same word-table algebra as the EM ops —
    # per-source token/piece counts exactly 10x, fertility and the
    # share columns byte-invariant
    ("unigram_encode_stats", "mix10"),
]

# mix10 specs: key columns; columns that must be exactly 10x (abs_tol,
# rel_tol on the 10x'd value); columns that must be replica-invariant;
# minimum common keys when LIMITed outputs can differ at the tail.
_D = (0.05, 2e-3)
_S = (1e-3, 1e-3)
MIX10 = {
    "vwap_monthly_brand": {
        "key": ["ship_month", "p_brand"],
        "x10": {"volume": _D},
        "same": {"vwap": _S, "vwap_all": _S, "rel_premium": (5e-4, 0)},
        # big clears the volume floor on more brand-months than small
        "min_common_frac": 1.0,
    },
    "max_drawdown_revenue": {
        "key": [],
        "x10": {"max_drawdown": _D},
        "same": {
            "peak_day": None,
            "trough_day": None,
            "recovery_day": None,
            "underwater_days": None,
        },
    },
    "changepoint_daily_revenue": {
        "key": [],
        "x10": {"left_mean": _D, "right_mean": _D, "mean_shift": (0.5, 2e-3)},
        "same": {"split_day": None, "var_explained": (5e-6, 0)},
    },
    "linear_trend_by_segment": {
        "key": ["segment"],
        "x10": {},
        "same": {
            "n_days": None,
            "slope_per_day": (1e-3, 0),
            "intercept": (0.05, 0),
            "r2": (5e-6, 0),
            "pearson_r": (5e-6, 0),
            "mean_x": (1e-3, 0),
            "mean_y": (0.05, 0),
        },
    },
    "extreme_value_return_levels": {
        "key": [],
        "x10": {
            "gumbel_mu": _D,
            "gumbel_beta": _D,
            "return_level_12mo": _D,
            "return_level_60mo": _D,
            "return_level_120mo": _D,
            "observed_max": _D,
        },
        "same": {"n_blocks": None},
    },
    "graph_degree_assortativity": {
        "key": [],
        "x10": {"n_edges": _D, "n_nodes": _D},
        "same": {
            "mean_end_degree": _S,
            "assortativity": (5e-5, 0),
            "disassortative": None,
        },
    },
    "rfm_migration_matrix": {
        "key": ["from_class", "to_class"],
        # NOT exactly 10x: the tercile ranks order ties by custkey, and
        # replica custkeys are block-shifted (not interleaved), so a
        # tercile boundary cuts each replica's LARGE tie groups (f/m are
        # small integers with thousands of ties) at a different offset —
        # measured ±4% drift around 10x at R=10. The assertion still
        # rules out any super-linear growth.
        "x10": {"n_customers": (30, 0.06)},
        "same": {"share_of_from": (8e-3, 0)},
        "min_common": 15,
    },
    "position_attribution_by_day": {
        "key": ["day"],
        "x10": {"n_credited_clicks": (0.5, 0), "total_credit": _D},
        "same": {},
    },
    "url_normalized_dedup": {
        "key": ["source"],
        "x10": {"n_urls": (0.5, 0), "n_raw_distinct": (0.5, 0),
                "n_canonical": (0.5, 0)},
        "same": {"dup_rate": (5e-4, 0)},
    },
    "capture_recapture_estimate": {
        "key": [],
        "x10": {"captured_click": (0.5, 0), "captured_view": (0.5, 0),
                "recaptured_both": (0.5, 0), "observed_users": (0.5, 0),
                "chapman_estimate": (2.0, 1e-3)},
        "same": {"rel_gap_to_observed": (1e-3, 0)},
    },
    "logrank_test_segments": {
        "key": [],
        "x10": {},
        "same": {"n_customers": None, "n_events": None,
                 "observed_g1": None, "expected_g1": (5e-3, 0),
                 "logrank_chi2": (5e-3, 0), "significant_95": None},
    },
    "quantile_normalization_by_source": {
        "key": ["source"],
        # counts only: the synthesis RECOMPUTES n_chars over the
        # '_r'-suffixed replica text (every token grows), so the length
        # moments legitimately shift at 10x — only the per-source doc
        # count carries a growth assertion here.
        "x10": {"n_docs": (0.5, 0)},
        "same": {},
    },
    "ab_experiment_health": {
        "key": ["scope"],
        "x10": {},
        "same": {"n_arm0": None, "n_arm1": None, "srm_chi2": (1e-3, 0),
                 "srm_flag": None, "smd_acctbal": (1e-3, 0),
                 "imbalance_flag": None},
    },
    "hll_intersection_estimate": {
        "key": ["type_a", "type_b"],
        # the estimator flag is deliberately NOT asserted at 10x: HLL
        # relative error is cardinality-dependent and engine-specific
        "x10": {"exact_intersection": (0.5, 0)},
        "same": {},
    },
    "pass_at_k_estimates": {
        "key": ["k"],
        "x10": {"n_problems": (0.5, 0)},
        # (10 * pass6) / (10 * n) rounds to the identical double, so the
        # micro-grid mean must be byte-equal
        "same": {"mean_pass_at_k": None},
    },
    "event_pattern_matches": {
        "key": ["pattern"],
        "x10": {"n_streams_matched": (0.5, 0), "total_matches": (0.5, 0)},
        "same": {"match_rate": None},
    },
    "newsvendor_stock_levels": {
        "key": ["brand"],
        "x10": {
            "order_up_to_level": (0.5, 0),
            "mean_daily_demand": (0.05, 2e-3),
            "safety_stock": (0.1, 2e-3),
        },
        "same": {"n_days": None},
    },
    "ucb_arm_allocation": {
        "key": ["arm"],
        "x10": {"n_pulls": (0.5, 0)},
        # (10c)/(100*10n) rounds to the identical double; the bonus and
        # rank legitimately move with ln N and n, so they are unasserted
        "same": {"mean_reward": None},
    },
    # customer/part are NOT replicated and the facts are dim-orphans ->
    # byte-invariant outputs
    "median_ci_order_stats": {
        "key": ["segment"],
        "x10": {},
        "same": {"n_customers": None, "median_balance": None,
                 "ci_lo": None, "ci_hi": None,
                 "lo_rank": None, "hi_rank": None},
    },
    "bh_fdr_brand_price": {
        "key": ["brand"],
        "x10": {},
        "same": {"n_parts": None, "mean_price": None, "z": None,
                 "p_value": None, "bh_rank": None,
                 "bh_critical": None, "rejected": None},
    },
    "ratio_metric_delta_ci": {
        "key": ["segment"],
        "x10": {},
        "same": {"n_users": None, "revenue_per_order": None, "se": None,
                 "ci_lo": None, "ci_hi": None},
    },
    "bloom_sizing_planner": {
        "key": ["bits_per_key"],
        "x10": {},
        "same": {"n_keys": None, "k_hashes": None, "total_bits": None,
                 "filter_kib": None, "predicted_fpr": None,
                 "recommended": None},
    },
    "hierarchical_forecast_reconciliation": {
        "key": ["region", "nation"],
        "x10": {},
        "same": {"base_forecast": None, "share": None,
                 "reconciled_forecast": None, "region_forecast": None,
                 "coherence_gap": None},
    },
    # round-12 tokenizer EM tier: the word table is IDENTICAL at 10x freq
    # (the '_r' suffix splits off), so est counts are exactly 10x and the
    # per-piece stats are byte-invariant — including the excluded-mass
    # sentinel row (its est_count is the 10x excluded freq, its n_words
    # the invariant distinct-word count)
    "unigram_lm_em_step": {
        "key": ["piece"],
        "x10": {"est_count": (0.5, 0)},
        "same": {"n_words": None, "new_logp": None},
    },
    "unigram_lm_trained": {
        "key": ["piece"],
        "x10": {"est_count": (0.5, 0)},
        "same": {"n_words": None, "new_logp": None},
    },
    "unigram_encode_stats": {
        "key": ["source"],
        "x10": {"n_tokens": (0.5, 0), "n_pieces": (0.5, 0)},
        "same": {"fertility": None, "single_char_piece_share": None,
                 "excluded_token_share": None},
    },
    # domain counts exactly 10x, shares invariant; the loss columns move
    # with the suffixed vocabulary's stopword features (recorded)
    "doremi_domain_weights": {
        "key": ["source"],
        "x10": {"n_docs": (0.5, 0)},
        "same": {"old_share": None},
    },
}

# Time-ratio bounds asserted ON TOP of each mode (round 8): these queries'
# OUTPUT is fixed-size (top-20 phrases / one stats row), so row counts carry
# no growth signal — but their WORK unit (tokens for dsir/rake, projected
# edges for assortativity) grows exactly 10x under the replicas, so wall
# time must stay within the linear envelope. Bounds = measured ratio
# (5.57 / 5.25 / 3.04 in round 6 — all fixed-cost-amortized sub-linear)
# plus ~2x idle-jitter headroom; a super-linear regression (like the old
# char-entropy 15.27x) blows straight past them.
TIME_LINEAR = {
    "dsir_importance_weights": 10.0,
    "rake_keyword_scores": 10.0,
    "graph_degree_assortativity": 8.0,
    # capbound: pair work saturates at ~1.03x, the remaining cost is the
    # 10x distinct/window over cp — linear envelope with jitter headroom
    "local_clustering_coefficient": 10.0,
    # planning cost is O(files): the inventory is ~10x rows, the one
    # corpus-grain pass is a grouped count — linear envelope with jitter
    "compaction_bin_packing": 10.0,
}

# modes whose assertion compares full collected results, not counts
_COLLECT_MODES = {"kcore10", "ohlc10", "budget10lin", "conc10",
                  "scdx10", "basket10", "wmed10", "did10", "mix10",
                  "capinv"}


def _mix10_check(name: str, small_rows, big_rows) -> list[str]:
    """Generic spec-driven 10x/invariance comparator (see MIX10)."""
    spec = MIX10[name]
    key = spec["key"]
    fails: list[str] = []

    def kf(row):
        return tuple(str(row[k]) for k in key)

    sm = {kf(r): r for r in small_rows}
    bg = {kf(r): r for r in big_rows}
    common = set(sm) & set(bg)
    need = spec.get("min_common", None)
    if need is None:
        frac = spec.get("min_common_frac", 1.0)
        need = int(frac * len(sm))
    if len(common) < need:
        fails.append(
            f"{name}: only {len(common)} common keys "
            f"(small {len(sm)}, big {len(bg)}, need {need})"
        )
    for k in sorted(common):
        s, b = sm[k], bg[k]
        for col, tol in spec["x10"].items():
            exp = (s[col] or 0) * R
            at, rt = tol
            if abs((b[col] or 0) - exp) > at + rt * abs(exp):
                fails.append(
                    f"{name}{list(k)}: {col} expected ~{exp}, got {b[col]}"
                )
        for col, tol in spec["same"].items():
            sv, bv = s[col], b[col]
            if tol is None:
                if sv != bv:
                    fails.append(
                        f"{name}{list(k)}: {col} changed {sv} -> {bv}"
                    )
            else:
                at, rt = tol
                sv = float(sv or 0)
                bv = float(bv or 0)
                if abs(bv - sv) > at + rt * abs(sv):
                    fails.append(
                        f"{name}{list(k)}: {col} drifted {sv} -> {bv}"
                    )
    return fails


def synthesize() -> None:
    import duckdb

    shutil.rmtree(BIG, ignore_errors=True)  # stale copies may be read-only
    os.makedirs(BIG, exist_ok=True)
    con = duckdb.connect()
    rep = f"(SELECT unnest(range({R})) AS r) rr"
    con.execute(
        f"""
        COPY (
          -- n_chars is recomputed over the REWRITTEN text (the base
          -- fixture satisfies n_chars == length(text) for all rows, so
          -- replica 0 is unchanged); keeping the base value would make
          -- n_chars contradict length(text) on '_r'-suffixed replicas
          -- and silently poison any pipeline/curation operator that
          -- trusts the column
          SELECT doc_id, text, lang, source, length(text) AS n_chars
          FROM (
            SELECT d.doc_id + rr.r * {SHIFT} AS doc_id,
                   CASE WHEN rr.r = 0 THEN d.text
                        ELSE array_to_string(
                            list_transform(string_split(d.text, ' '),
                                           t -> t || '_' || rr.r), ' ')
                   END AS text,
                   d.lang, d.source
            FROM read_parquet('{SF_SMALL}/documents.parquet') d
            CROSS JOIN {rep}
          )
        ) TO '{BIG}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT o.* REPLACE (o.o_orderkey + rr.r * {SHIFT} AS o_orderkey,
                              o.o_custkey + rr.r * {SHIFT} AS o_custkey)
          FROM read_parquet('{SF_SMALL}/orders.parquet') o
          CROSS JOIN {rep}
        ) TO '{BIG}/orders.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT l.* REPLACE (l.l_orderkey + rr.r * {SHIFT} AS l_orderkey,
                              l.l_suppkey + rr.r * {SHIFT} AS l_suppkey)
          FROM read_parquet('{SF_SMALL}/lineitem.parquet') l
          CROSS JOIN {rep}
        ) TO '{BIG}/lineitem.parquet' (FORMAT PARQUET)
        """
    )

    con.execute(
        f"""
        COPY (
          SELECT e.* REPLACE (e.event_id + rr.r * {SHIFT} AS event_id,
                              e.user_id + rr.r * {SHIFT} AS user_id)
          FROM read_parquet('{SF_SMALL}/events.parquet') e
          CROSS JOIN {rep}
        ) TO '{BIG}/events.parquet' (FORMAT PARQUET)
        """
    )

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(f"{SF_SMALL}/embeddings.parquet").to_pandas()
    dim = len(base["embedding"].iloc[0])
    vec_ids, embs, labels = [], [], []
    for r in range(R):
        signs = (
            np.ones(dim, dtype=np.float32)
            if r == 0
            else np.random.default_rng(r)
            .choice([-1.0, 1.0], dim)
            .astype(np.float32)
        )
        for vid, emb, lab in zip(
            base["vec_id"], base["embedding"], base["label"]
        ):
            vec_ids.append(int(vid) + r * SHIFT)
            embs.append(
                (np.asarray(emb, dtype=np.float32) * signs).tolist()
            )
            labels.append(int(lab))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(vec_ids, pa.int64()),
                "embedding": pa.array(embs, pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        f"{BIG}/embeddings.parquet",
    )

    for t in TABLES:
        dst = f"{BIG}/{t}.parquet"
        if not os.path.exists(dst):
            shutil.copyfile(f"{SF_SMALL}/{t}.parquet", dst)
            os.chmod(dst, 0o644)


def measure(spark, queries, sf_dir):
    """Min-of-2 build+execute seconds per suspect, plus the facts its
    assertion needs, read off the clock from the first sample's frame."""
    warm_up(spark, sf_dir)
    out = {}
    for name, mode in SUSPECTS:
        best = float("inf")
        for sample in range(2):
            with measured(spark, name) as run:
                df = run.build(queries[name], spark, sf_dir)
                run.execute(noop_write, df)
                if sample == 0:
                    out[name] = _observe(spark, df, mode)
            best = min(best, run.seconds)
        out[name]["sec"] = round(best, 3)
    return out


def _observe(spark, df, mode):
    from pyspark.sql import functions as F

    from database_toolbox_spark.operators.dedup import (
        simhash_band_candidate_count,
    )

    if mode == "cells":
        # the growth metric is the examined-pair work bound
        obs = {"rows": int(
            df.agg(F.sum(F.col("n_vectors") * F.col("n_vectors")))
            .collect()[0][0]
            or 0
        )}
    elif mode in _COLLECT_MODES:
        collected = df.collect()
        obs = {"rows": len(collected), "collected": collected}
    else:
        obs = {"rows": df.count()}
    if mode == "overhead":
        # banded-join candidate volume over the CURRENT documents
        # view (warm_up's load_tables pointed it at sf_dir)
        obs["candidates"] = simhash_band_candidate_count(spark)
    if mode == "decon10":
        from database_toolbox_spark.operators.dedup import (
            decon_contaminated_count,
        )

        obs["contam"] = decon_contaminated_count(spark)
    if mode == "capbound":
        from database_toolbox_spark.operators.graph import (
            lcc_examined_pairs,
        )

        obs["examined"], obs["n_parts"] = lcc_examined_pairs(spark)
    return obs


def main() -> int:
    if not os.path.exists(f"{BIG}/documents.parquet") or os.environ.get(
        "SPARK_GRAFT_SFBIG_REBUILD"
    ):
        synthesize()
    spark = get_spark(app_name="scaling-sf1")
    queries = all_queries()
    small = measure(spark, queries, SF_SMALL)
    big = measure(spark, queries, BIG)
    failures = []
    rows_out = {}
    for name, mode in SUSPECTS:
        s, b = small[name], big[name]
        ratio = round(b["sec"] / max(s["sec"], 1e-9), 2)
        rows_out[name] = {
            "sf0.1_sec": s["sec"],
            "sf1_sec": b["sec"],
            "time_ratio": ratio,
            "sf0.1_rows": s["rows"],
            "sf1_rows": b["rows"],
            "mode": mode,
        }
        if mode == "timelin":
            if b["rows"] != s["rows"]:
                failures.append(
                    f"{name}: bounded head changed size at {R}x "
                    f"({s['rows']} -> {b['rows']})"
                )
            if ratio > 10.0:
                failures.append(
                    f"{name}: time ratio {ratio} exceeds linear envelope "
                    f"10.0 at {R}x rows"
                )
        elif mode == "entlin":
            if b["rows"] != R * s["rows"]:
                failures.append(
                    f"{name}: expected exactly {R}x rows "
                    f"({R * s['rows']}), got {b['rows']}"
                )
            if ratio > 10.0:
                failures.append(
                    f"{name}: time ratio {ratio} exceeds sub-linear bound "
                    f"10.0 at {R}x rows (corpus bytes grow 13.3x)"
                )
        elif mode == "decon10":
            from database_toolbox_spark.operators.dedup import DECON_TOP

            rows_out[name]["contam_small"] = s["contam"]
            rows_out[name]["contam_big"] = b["contam"]
            if b["contam"] != R * s["contam"]:
                failures.append(
                    f"{name}: pre-LIMIT contaminated count expected "
                    f"exactly {R}x ({R * s['contam']}), got {b['contam']}"
                )
            if s["rows"] > DECON_TOP or b["rows"] > DECON_TOP:
                failures.append(
                    f"{name}: report head exceeded DECON_TOP "
                    f"({s['rows']} / {b['rows']})"
                )
            if ratio > 10.0:
                failures.append(
                    f"{name}: time ratio {ratio} exceeds linear envelope "
                    f"10.0 at {R}x rows"
                )
        elif mode == "exact10" and b["rows"] != R * s["rows"]:
            failures.append(
                f"{name}: expected exactly {R}x rows "
                f"({R * s['rows']}), got {b['rows']}"
            )
        elif mode == "linear" and b["rows"] > 1.5 * R * s["rows"] + 20:
            failures.append(
                f"{name}: {b['rows']} rows exceeds linear headroom "
                f"(1.5 * {R} * {s['rows']} + 20)"
            )
        elif mode == "cells" and b["rows"] > 2 * R * s["rows"] + 20:
            failures.append(
                f"{name}: examined-pair bound {b['rows']} exceeds linear "
                f"headroom (2 * {R} * {s['rows']} + 20)"
            )
        elif mode == "kcore10":
            small_r = {r.round: (r.n_nodes, r.n_edges)
                       for r in s["collected"]}
            big_r = {r.round: (r.n_nodes, r.n_edges)
                     for r in b["collected"]}
            if set(small_r) != set(big_r) or any(
                big_r[k] != (R * small_r[k][0], R * small_r[k][1])
                for k in small_r
            ):
                failures.append(
                    f"{name}: peeling trajectory not exactly {R}x "
                    f"(small {small_r}, big {big_r})"
                )
        elif mode == "ohlc10":
            small_r = {r.bar_hour: r for r in s["collected"]}
            big_r = {r.bar_hour: r for r in b["collected"]}
            bad = set(small_r) != set(big_r) or any(
                big_r[h].n_events != R * small_r[h].n_events
                or big_r[h].high_value != small_r[h].high_value
                or big_r[h].low_value != small_r[h].low_value
                for h in small_r
            )
            if bad:
                failures.append(
                    f"{name}: bars not {R}x-events / value-identical"
                )
        elif mode == "budget10lin":
            small_all = next(r.candidate_pairs for r in s["collected"]
                             if r.band == -1)
            big_all = next(r.candidate_pairs for r in b["collected"]
                           if r.band == -1)
            rows_out[name]["budget_small"] = small_all
            rows_out[name]["budget_big"] = big_all
            if big_all > 1.5 * R * small_all + 20:
                failures.append(
                    f"{name}: ALL-band candidate budget {big_all} exceeds "
                    f"linear headroom (1.5 * {R} * {small_all} + 20)"
                )
        elif mode == "conc10":
            small_r = {r.day: r for r in s["collected"]}
            big_r = {r.day: r for r in b["collected"]}
            bad = set(small_r) != set(big_r) or any(
                big_r[d].peak_concurrent != R * small_r[d].peak_concurrent
                or big_r[d].n_active_sessions
                   != R * small_r[d].n_active_sessions
                or big_r[d].first_peak_us != small_r[d].first_peak_us
                for d in small_r
            )
            if bad:
                failures.append(
                    f"{name}: daily peaks not {R}x with identical "
                    "first-peak instants"
                )
        elif mode == "scdx10":
            sr, br = s["collected"][0], b["collected"][0]
            bad = (
                br.n_keys != R * sr.n_keys
                or br.n_versions != R * sr.n_versions
                or br.n_gaps != R * sr.n_gaps
                or br.n_overlaps != R * sr.n_overlaps
                or br.n_contiguous != R * sr.n_contiguous
                or abs(br.avg_gap_s - sr.avg_gap_s) > 1e-3
                or br.max_gap_s != sr.max_gap_s
                or abs(br.coverage_pct - sr.coverage_pct) > 1e-3
            )
            if bad:
                failures.append(
                    f"{name}: version-chain stats not a {R}x copy"
                )
        elif mode == "basket10":
            small_r = {(r.brand_a, r.brand_b): r for r in s["collected"]}
            big_r = {(r.brand_a, r.brand_b): r for r in b["collected"]}
            bad = set(small_r) != set(big_r) or any(
                big_r[k].n_ab != R * small_r[k].n_ab
                or abs(big_r[k].lift - small_r[k].lift) > 2e-6
                or abs(big_r[k].support - small_r[k].support) > 2e-6
                for k in small_r
            )
            if bad:
                failures.append(
                    f"{name}: top rules not identical with {R}x counts"
                )
        elif mode == "wmed10":
            small_r = {r.l_returnflag: r for r in s["collected"]}
            big_r = {r.l_returnflag: r for r in b["collected"]}
            bad = set(small_r) != set(big_r) or any(
                big_r[f].weighted_median_price
                    != small_r[f].weighted_median_price
                or abs(big_r[f].total_weight
                       - R * small_r[f].total_weight) > 0.02 * R
                for f in small_r
            )
            if bad:
                failures.append(
                    f"{name}: weighted medians changed under {R}x "
                    "replication"
                )
        elif mode == "did10":
            # orders replicas shift o_custkey but the CUSTOMER dim is not
            # replicated, so replica facts are dim-orphans and the inner
            # fact-dim join must keep exactly the base rows: the invariant
            # is that orphan inserts leak NOTHING into the dim-joined
            # estimate (n_orders and the estimate unchanged)
            sr, br = s["collected"][0], b["collected"][0]
            if (br.n_orders != sr.n_orders
                    or abs(br.did_estimate - sr.did_estimate) > 1e-3):
                failures.append(
                    f"{name}: dim-orphan replicas leaked into the DiD "
                    f"join (n {sr.n_orders} -> {br.n_orders}, est "
                    f"{sr.did_estimate} -> {br.did_estimate})"
                )
        elif mode == "mix10":
            failures.extend(
                _mix10_check(name, s["collected"], b["collected"])
            )
        elif mode == "capbound":
            from database_toolbox_spark.operators.graph import LCC_CAP

            sat = b["n_parts"] * (LCC_CAP * (LCC_CAP - 1) // 2)
            rows_out[name]["examined_small"] = s["examined"]
            rows_out[name]["examined_big"] = b["examined"]
            if b["examined"] != sat:
                failures.append(
                    f"{name}: capped examined-pair work {b['examined']} "
                    f"!= saturation bound {sat} "
                    f"({b['n_parts']} parts * C({LCC_CAP},2))"
                )
            if b["examined"] > 1.2 * s["examined"]:
                failures.append(
                    f"{name}: capped examined-pair work grew "
                    f"{s['examined']} -> {b['examined']} (> 1.2x) at "
                    f"{R}x corpus"
                )
        elif mode == "capinv":
            if [tuple(r) for r in s["collected"]] != [
                tuple(r) for r in b["collected"]
            ]:
                failures.append(
                    f"{name}: capped projection output changed under "
                    f"{R}x catalog-shared replication"
                )
        if name in TIME_LINEAR and ratio > TIME_LINEAR[name]:
            failures.append(
                f"{name}: time ratio {ratio} exceeds linear envelope "
                f"{TIME_LINEAR[name]} at {R}x work"
            )
        if mode == "overhead":
            ov_s = s["candidates"] / max(s["rows"], 1)
            ov_b = b["candidates"] / max(b["rows"], 1)
            rows_out[name]["overhead_small"] = round(ov_s, 3)
            rows_out[name]["overhead_big"] = round(ov_b, 3)
            if ov_b > 2.5 * ov_s + 0.5:
                failures.append(
                    f"{name}: banding overhead grew {ov_s:.2f} -> "
                    f"{ov_b:.2f} (> 2.5x)"
                )
    doc = {
        "sf_small": 0.1,
        "sf_big": "~1 (10x synthetic, known growth algebra)",
        "queries": rows_out,
        "failures": failures,
    }
    print(json.dumps(doc))
    _update_scaling_md(rows_out, failures)
    return 1 if failures else 0


_MD_HEADER = "## sf0.1 -> sf~1 (10x synthetic, asserted growth algebra)"


def _update_scaling_md(rows_out, failures) -> None:
    from _scaling_md import replace_section

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING.md",
    )
    lines = [
        "",
        "Generated by `python scripts/scaling_sf1.py`. The ~sf1 corpus is",
        "derived from sf0.1 with CLOSED-FORM growth: token-bijection",
        "document replicas (within-replica Jaccard preserved exactly,",
        "cross-replica vocabularies disjoint), sign-flip embedding",
        "replicas (diagonal orthogonal transform: within-replica cosines",
        "exact, cross-replica ~0), and key-shifted order/lineitem graph",
        "replicas. So the TRUE pair sets are exactly 10 copies of sf0.1's",
        "and every pair-count column below is asserted by the script",
        "(exact10 = must equal 10x; linear = probabilistic-banding",
        "headroom 1.5x; cells = SemDeDup's examined-pair work bound",
        "sum(n_vectors^2) under scaled-k quantization, headroom 2x",
        "(drop-candidate counts are threshold noise at the demo",
        "tau=0.4, not algorithm work); overhead = simhash",
        "banded-join candidates per TRUE pair must not grow > 2.5x —",
        "the fixture's tiny vocabulary saturates signatures, so the",
        "true Hamming-ball pair set itself is super-linear and output",
        "volume is the wrong yardstick; mix10 = spec-driven per-column",
        "comparator: named columns exactly-10x within rounding grids,",
        "others replica-invariant (dim-orphan joins, shared part",
        "catalog); entlin = exact-10x rows AND time ratio <= 10 at 10x",
        "rows / 13.3x corpus bytes — the sub-linear-in-rows assertion",
        "for the round-8 shuffle-free char-entropy rewrite; capinv =",
        "capped co-purchase output byte-identical at 10x; capbound =",
        "the capped LCC projection's examined-pair work saturates to",
        "exactly n_parts * C(LCC_CAP, 2) and stays <= 1.2x sf0.1's —",
        "10x data, ~1.03x pair work; timelin = bounded top-K head",
        "row-count identical at both scales AND time ratio <= 10 at",
        "10x rows — the retrieval tier's linear-envelope assertion",
        "(BM25 / PRF over the inverted tf index); decon10 = the",
        "LIMIT-bounded report head stays under DECON_TOP while the",
        "PRE-LIMIT contaminated-doc count is exactly 10x and time <=",
        "10x (the decontamination tier's growth row — replica eval",
        "slices share grams only within their replica); report =",
        "documented anti-pattern demo or non-pair query).",
        "",
        "| query | mode | sf0.1 s | sf~1 s | time ratio | sf0.1 pairs |"
        " sf~1 pairs |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, r in rows_out.items():
        lines.append(
            f"| {name} | {r['mode']} | {r['sf0.1_sec']} | {r['sf1_sec']} |"
            f" {r['time_ratio']} | {r['sf0.1_rows']} | {r['sf1_rows']} |"
        )
    lines.append("")
    lines.append(
        "All growth assertions passed."
        if not failures
        else "FAILURES: " + "; ".join(failures)
    )
    replace_section(path, _MD_HEADER, lines)


if __name__ == "__main__":
    raise SystemExit(main())
