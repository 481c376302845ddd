#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE SHORT JSON line (the driver captures only a ~2 KB stdout tail, so
the line must stay small and the headline ``value`` goes LAST):

    {"metric": "...", "unit": "sec", "sf": ..., "n_queries": N,
     "regressions": {...capped...}, "detail": "BENCH_DETAIL.json",
     "value": TOTAL}

Per-query timings, spreads, raw samples, and the full regression report are
written to ``BENCH_DETAIL.json`` next to this script (committed per round),
NOT to stdout — round 4 lost its official number when the one-line output
outgrew the driver's tail buffer.

Each query executes its full plan into a noop sink (no driver-side result
transfer — measures the engine, not collect()).

Timed region (since round 13): each sample is one ``session.measured``
scope timing CONSTRUCTION + EXECUTION, because ``session.materialize`` is an
eager localCheckpoint — building the plan already executes every
materialized subtree, and timing only the write let that work run off the
clock. Rounds <= 12 timed the write only; the committed round-12 numbers are
NOT directly comparable (the discontinuity is quantified in
OPTIMIZATION_r13.md with a same-window pair of runs). The scope releases the
checkpoints its sample pinned, so no sample can reuse another's computation.
``query_layers`` holds the min sample's ``build_sec``, ``exec_sec``,
``jobs``, ``stages`` and ``tasks`` (the Spark work of its job group); the
top-level ``jobs`` sums the per-query jobs."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from database_toolbox_spark.operators import all_queries
from database_toolbox_spark.session import DEFAULT_SF_DIR, get_spark
from database_toolbox_spark.session import measured, noop_write, warm_up

HEADLINE = [
    # core SQL surface
    "pricing_summary",
    "top_revenue_orders",
    "regional_revenue",
    "order_item_counts_left",
    "supplier_top_parts",
    "daily_running_revenue",
    # event-time analytics
    "suppliers_kept_waiting",
    "nation_profit",
    "ivm_monthly_revenue",
    # event-time analytics
    "hourly_event_windows",
    "user_session_windows",
    "asof_last_click",
    # LLM-pipeline tier
    "doc_quality_scores",
    "minhash_near_dup_pairs",
    "simhash_fingerprints",
    "cosine_topk",
    "sq8_ann_topk",
    "lsh_ann_topk",
    "multimodal_decode_features",
    # round-2 additions
    "repeated_segment_stats",
    "knn_graph_topk",
    "event_type_triangles",
    "dq_check_summary",
    # incremental / sketch / sampling / diagnostics tier
    "minhash_delta_pairs",
    "bitmap_distinct_rollup",
    "weighted_sample_topk",
    "source_token_divergence",
    "url_parse_battery",
    # round-2 additions: scale-path rewrites + semantic layer
    "customer_rfm_segments",
    "pack_documents",
    "simhash_near_dup_pairs_wide",
    "look_revenue_by_nation",
    # round-3 additions: real-codec multimodal tier + LM quality filter
    "image_decode_stats",
    "audio_waveform_stats",
    "bigram_lm_scores",
    # round-3 additions: corpus-curation tier
    "segment_dedup_kept",
    "quality_classifier_scores",
    # round-3 addition: single-pass funnel (post scan-audit shape)
    "funnel_conversion",
    # round-3 late additions: time-series smoothing, CDC compaction,
    # path analytics, forward as-of, tokenizer-training stats, privacy
    # audit, embedding ANOVA
    "ewma_daily_revenue",
    "cdc_net_changes",
    "event_path_topk",
    "asof_next_error",
    "bpe_merge_candidates",
    "k_anonymity_audit",
    "label_separation_scores",
    # final round-3 tranche: JL projection, tz localization, integrity
    # audit, real-pixel histogram
    "jl_projection_stats",
    "timezone_battery",
    "referential_integrity_audit",
    "image_histogram_stats",
    # continuation tranche: exact-Jaccard prefix filtering, retrieval
    # ranking, distributed linear algebra, semantic dedup, join planning
    "jaccard_prefix_filter_pairs",
    "bm25_top_terms",
    "embedding_covariance",
    "pca_top_component",
    "semdedup_drop_candidates",
    "shuffle_skew_profile",
    # late continuation tranche: hybrid retrieval, Hilbert layout,
    # source diagnostics, survival analysis, decay attribution
    "hybrid_rrf_search",
    "hilbert_bucket_stats",
    "source_overlap_matrix",
    "kaplan_meier_purchase",
    "time_decay_attribution",
    # round-4 tranche: containment prefix-join, PQ-ADC ANN, Holt trend,
    # conformal calibration, central-moment shape profile
    "containment_dup_pairs",
    "pq_ann_topk",
    "holt_linear_daily_revenue",
    "conformal_interval_coverage",
    "moment_profile_by_segment",
    "ivfpq_ann_topk",
    "source_quality_calibration",
    # round-5 tranche: positional fingerprinting, chunk dedup, weighted
    # cosine, STL decomposition, ANN recall harness, density clustering,
    # source drift / signature diagnostics, reciprocal-best-match
    "winnowing_dup_pairs",
    "cdc_chunk_dedup",
    "idf_cosine_dup_pairs",
    "stl_decomposition_daily",
    "ann_recall_eval",
    "grid_density_clusters",
    "distinctive_terms_by_source",
    "ks_divergence_by_source",
    "mutual_nn_pairs",
    # round-5 continuation tranches: rolling-distinct engagement, LPA
    # communities, HITS, ExactSubstr coverage, spectral + drift + privacy
    # completions
    "dau_wau_stickiness",
    "label_propagation_communities",
    "cross_doc_span_coverage",
    "hits_hub_authority",
    "holt_winters_weekly_forecast",
    "t_closeness_audit",
    "ndcg_ann_eval",
    "psi_price_drift",
    "split_decontaminated_counts",
    "audio_spectrogram_profile",
    # round-5 tranche F: basket rules, sweep-line concurrency, HBOS,
    # truncation recall, KN LM, graph locality + prediction, weighted
    # median, LSH budget, RAKE
    "basket_association_rules",
    "concurrent_sessions_peak",
    "hbos_outlier_scores",
    "dim_truncation_recall",
    "kneser_ney_heldout_perplexity",
    "local_clustering_coefficient",
    "link_prediction_scores",
    "weighted_median_price",
    "lsh_candidate_budget",
    "rake_keyword_scores",
    # round-6 tranche: finance/trend, geo spatial join, DSIR selection,
    # k-center sampling, survey raking, graph assortativity, URL dedup,
    # Brier calibration, TextRank, RFM migration, U-shaped attribution
    "vwap_monthly_brand",
    "changepoint_daily_revenue",
    "geo_grid_neighbor_pairs",
    "dsir_importance_weights",
    "farthest_point_sample",
    "raking_ipf_weights",
    "graph_degree_assortativity",
    "url_normalized_dedup",
    "brier_decomposition",
    "textrank_keywords",
    "rfm_migration_matrix",
    "position_attribution_by_day",
    # round-6 tranche E/F: survival, sketch algebra, infra resharding,
    # T5 masking, experiment health, coverage estimation, batch-effect
    # removal, extreme values
    "logrank_test_segments",
    "hll_intersection_estimate",
    "consistent_hash_reshard_audit",
    "span_corruption_stats",
    "ab_experiment_health",
    "capture_recapture_estimate",
    "quantile_normalization_by_source",
    "extreme_value_return_levels",
    "hurst_exponent_revenue",
    # round-8 additions: the Firestore-style document surface (pointed
    # lookups + filtered collection query) and the shuffle-free char
    # entropy rewrite
    "docstore_query_orders",
    "docstore_get_documents",
    "char_entropy_scores",
    "mmr_diverse_topk",
    "copurchase_capped_pairs",
    "isotonic_calibration_curve",
    # round-9 tranche: binary-quantization ANN + its bit-budget recall
    # curve, lakehouse compaction planning, sampled-eval aggregation
    "bq_ann_topk",
    "bq_bits_recall_curve",
    "compaction_bin_packing",
    "pass_at_k_estimates",
    # round-9 second tranche: CEP census, planner family, index/session
    # maintenance, labeling/batching audits, FDR screen, SQL training step
    "event_pattern_matches",
    "bloom_sizing_planner",
    "ivf_rebalance_advisor",
    "session_gap_sensitivity",
    "active_learning_batch",
    "inbatch_negative_audit",
    "class_balance_weights",
    "ratio_metric_delta_ci",
    "bh_fdr_brand_price",
    "logistic_gd_step",
    "sssp_weighted_hops",
    "median_ci_order_stats",
    "ucb_arm_allocation",
    "logistic_fold_stability",
    "hierarchical_forecast_reconciliation",
    "newsvendor_stock_levels",
    "prf_expanded_search",
    "msprt_ab_monitor",
    "km_greenwood_bands",
    "ece_calibration_summary",
    # round-10 tranche: asymmetric binary-ANN recall curve (same code
    # bytes as bq_bits_recall_curve, float-query scoring), the IVF+binary
    # composite ladder, intermittent-demand forecasting, the classical
    # group-sequential monitor, the MFCC front half, the CMS frequency
    # sketch, random-walk-with-restart proximity, and the Benford screen
    "bq_asym_recall_curve",
    "ivf_bq_ann_topk",
    "croston_intermittent_demand",
    "obrien_fleming_monitor",
    "audio_mel_energies",
    "count_min_sketch_accuracy",
    "personalized_pagerank",
    "benford_price_audit",
    # round-10 second tranche: axiomatic attribution, uplift readout,
    # Bayesian A/B, and the SCD2 point-in-time join
    "shapley_channel_attribution",
    "qini_uplift_levels",
    "bayes_ab_conversion",
    "point_in_time_dim_join",
    "abc_xyz_matrix",
    "forecast_scorecard_mase",
    # round-11 tranche: the lossy image codec (baseline JPEG through the
    # real entropy-decode + dequant + IDCT pipeline), the SentencePiece-
    # style unigram-LM tokenizer EM step, and the DoReMi group-DRO
    # data-mixture update
    "image_jpeg_stats",
    "unigram_lm_em_step",
    "doremi_domain_weights",
    "ngram_decontamination",
    # round-11 second tranche: the matryoshka prefix-dim sizing curve,
    # DPR-style hard-negative mining, chance-corrected filter agreement,
    # and per-source split-conformal calibration of the quality model
    "mrl_dim_recall_curve",
    "hard_negative_mining",
    "mondrian_conformal_coverage",
    "image_jpeg_rgb_stats",
    # round-12 tranche: the full unigram trainer (3 EM iterations with
    # pruning, per-iteration materialized), and the 4:2:0 JPEG decode
    # path (MCU-interleaved scan + chroma upsample)
    "unigram_lm_trained",
    "image_jpeg_420_stats",
    "unigram_encode_stats",
    "fuzzy_decontamination",
]

_HERE = os.path.dirname(os.path.abspath(__file__))
DETAIL_PATH = os.path.join(_HERE, "BENCH_DETAIL.json")


def prev_timings() -> dict[str, float]:
    """Per-query timings from the previous round, for regression tracking.

    Preference order: the git-HEAD copy of BENCH_DETAIL.json (immutable
    within a round — a second bench run in the same round must NOT
    rebaseline against the run just completed, which the working-tree file
    would do since main() overwrites it), else the working-tree file (fresh
    clone with no committed detail yet), else the newest driver-recorded
    BENCH_r*.json whose ``parsed.queries`` exists."""
    import glob
    import subprocess

    try:
        blob = subprocess.run(
            ["git", "-C", _HERE, "show", "HEAD:BENCH_DETAIL.json"],
            capture_output=True,
            text=True,
            timeout=10,
        )
        if blob.returncode == 0:
            doc = json.loads(blob.stdout)
            if isinstance(doc.get("queries"), dict) and doc["queries"]:
                return doc["queries"]
    except (OSError, ValueError, subprocess.SubprocessError):
        pass
    try:
        with open(DETAIL_PATH) as f:
            doc = json.load(f)
        if isinstance(doc.get("queries"), dict) and doc["queries"]:
            return doc["queries"]
    except (OSError, ValueError):
        pass
    best: dict[str, float] = {}
    for path in sorted(glob.glob(os.path.join(_HERE, "BENCH_r*.json"))):
        try:
            with open(path) as f:
                doc = json.load(f)
            parsed = doc.get("parsed") or {}
            if isinstance(parsed.get("queries"), dict):
                best = parsed["queries"]
        except (OSError, ValueError):
            continue
    return best


def compute_regressions(
    timings: dict[str, float],
    spreads: dict[str, float],
    medians: dict[str, float],
    prev: dict[str, float],
) -> dict[str, dict[str, float]]:
    """Flag per-query slowdowns vs the previous round.

    Two gates (either one flags), designed so a contended run cannot fully
    mask a genuine plan regression (round-4 judge finding: a regressed plan
    is usually also noisier, so gating *only* on this run's own spread
    suppresses exactly the flags that matter):

    1. UNCONDITIONAL ceiling — the comparison value exceeds 2x the previous
       round (the driver's envelope), regardless of spread. The comparison
       value is the MEDIAN of 3 when the run is noisy — noise measured
       RELATIVELY (spread > 30% of the previous timing), not by comparing
       this run's absolute jitter against the previous round's total, which
       made sub-second queries always take the median path and multi-second
       queries never — else the min: a single contention spike can't trip
       it, but a consistently-doubled plan always does.
    2. Jitter-aware gate — min-of-3 is > 1.3x prev AND the absolute delta
       exceeds max(0.25 s, min(2*spread, 1.0 s)). The spread term is CAPPED
       at 1 s so high noise widens the band only so far.
    """
    out: dict[str, dict[str, float]] = {}
    for n, t in timings.items():
        if n not in prev or prev[n] <= 0:
            continue
        cmp_val = medians[n] if spreads[n] > 0.3 * prev[n] else t
        hard = cmp_val > 2.0 * prev[n]
        soft = (
            t > prev[n] * 1.3
            and t - prev[n] > max(0.25, min(2 * spreads[n], 1.0))
        )
        if hard or soft:
            out[n] = {
                "prev": prev[n],
                "now": t,
                "median": medians[n],
                "spread": spreads[n],
                "gate": "2x-ceiling" if hard else "jitter",
            }
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # --runs N (round-10 verdict item 7): repeat the WHOLE headline pass N
    # times and take the per-query MIN across all passes — inter-run
    # contention on the shared host produces disjoint flag sets between
    # single runs; min-across-runs adjudicates them mechanically instead
    # of by narrative. Default 1 keeps the driver's per-round cost flat;
    # ``--runs 2`` is the documented default for CLOSING benches (it
    # adjudicated all 10 round-11 contention flags to zero — round-11
    # verdict item 8). argparse so a missing/non-integer value is a clean
    # usage error, not an IndexError (round-11 ADVICE item 2).
    import argparse

    ap = argparse.ArgumentParser(description="headline bench")
    ap.add_argument("--runs", type=int, default=1)
    runs = max(1, ap.parse_args().runs)

    # Tee-free stderr capture: dup fd 2 to a temp file BEFORE the JVM
    # launches (it inherits the fd), so the emitted JSON can carry a
    # ``window_warnings`` count — any ``WindowExec: No Partition Defined``
    # in a headline plan is an unpartitioned global sort and a finding
    # (round-9 verdict item 2). Constant-partition ``hash(k) % 1`` windows
    # don't warn and are exempt ONLY over bounded/dimension relations —
    # each such site carries an inline comment naming the bound, and the
    # plan-fingerprint gate pins their shapes. Restored before printing
    # the JSON line; try/finally so a raising query still surfaces its
    # traceback on the real stderr (round-10 ADVICE item 1).
    import tempfile

    warn_f = tempfile.NamedTemporaryFile(
        mode="w+", suffix=".bench-stderr", delete=False
    )
    orig_err = os.dup(2)
    os.dup2(warn_f.fileno(), 2)
    captured = ""
    try:
        spark = get_spark(app_name="dts-bench")
        queries = all_queries()

        warm_up(spark, sf_dir)

        raw: dict[str, list[float]] = {n: [] for n in HEADLINE}
        layers: dict[str, dict] = {}
        for _pass in range(runs):
            for name in HEADLINE:
                # min of 3 per pass: the shared host shows 20-40%
                # inter-run contention swings (SCALING.md round-3 note);
                # 2 samples were not enough to reach steady state reliably.
                for _ in range(3):
                    with measured(spark, name) as run:
                        df = run.build(queries[name], spark, sf_dir)
                        run.execute(noop_write, df)
                    raw[name].append(round(run.seconds, 3))
                    if raw[name][-1] <= min(raw[name]):
                        layers[name] = {
                            "build_sec": round(run.build_s, 3),
                            "exec_sec": round(run.exec_s, 3),
                            "jobs": run.jobs,
                            "stages": run.stages,
                            "tasks": run.tasks,
                        }
        timings = {n: min(s) for n, s in raw.items()}
        # comparison median for the regression gate: with one pass, the
        # plain median of 3 (the historical gate); with --runs N > 1, the
        # median of PER-PASS MINS — a genuinely regressed plan doubles
        # every pass's min, while a contention spike inflates only the
        # sample it hit (the round-10 verdict's min-across-runs
        # adjudication, made mechanical)
        if runs == 1:
            medians = {n: sorted(s)[len(s) // 2] for n, s in raw.items()}
        else:
            medians = {}
            for n, s in raw.items():
                per_run = sorted(
                    min(s[i:i + 3]) for i in range(0, len(s), 3)
                )
                medians[n] = per_run[len(per_run) // 2]
        spreads = {
            n: round(max(s) - min(s), 3) for n, s in raw.items()
        }

        total = round(sum(timings.values()), 3)
        jobs = sum(q["jobs"] for q in layers.values())
        prev = prev_timings()  # read BEFORE overwriting BENCH_DETAIL.json
        regressions = compute_regressions(timings, spreads, medians, prev)
    finally:
        # drain + count unpartitioned-window warnings, restore stderr on
        # ALL paths; on error, replay the capture so the traceback and the
        # JVM's last words reach the terminal
        os.fsync(warn_f.fileno())
        os.dup2(orig_err, 2)
        os.close(orig_err)
        with open(warn_f.name) as wf:
            captured = wf.read()
        os.unlink(warn_f.name)
        warn_f.close()
        if sys.exc_info()[0] is not None:
            sys.stderr.write(captured)
    window_warnings = sum(
        line.count("No Partition Defined")
        for line in captured.splitlines()
    )

    with open(DETAIL_PATH, "w") as f:
        json.dump(
            {
                "metric": "total_headline_query_sec",
                "value": total,
                "unit": "sec",
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "queries": timings,
                "query_median_sec": medians,
                "query_spread_sec": spreads,
                "query_samples_sec": raw,
                "query_layers": layers,
                "jobs": jobs,
                "runs": runs,
                "regressions_vs_prev_round": regressions,
                "window_warnings": window_warnings,
            },
            f,
            indent=1,
        )
        f.write("\n")

    # stdout stays SHORT (driver keeps only a ~2 KB tail): regressions
    # capped to names, headline value LAST. ``queries`` carries the
    # TOP-10 SLOWEST per-query timings inline (~400 bytes) so the
    # driver's round-over-round and low-core scaling comparisons have
    # per-query data without reading BENCH_DETAIL.json (round-12 verdict
    # item 5 — PERF_r12's per_query/scaling blocks were empty). The full
    # 173-query map stays in the detail file (a full inline map is what
    # overflowed the driver's tail buffer in round 4).
    top10 = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    )
    print(
        json.dumps(
            {
                "metric": "total_headline_query_sec",
                "unit": "sec",
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "n_queries": len(timings),
                "regressed": sorted(regressions)[:10],
                "detail": "BENCH_DETAIL.json",
                "window_warnings": window_warnings,
                "queries": top10,
                "jobs": jobs,
                "value": total,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
