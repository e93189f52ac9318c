"""Query registry: name -> (spark impl, oracle SQL, metadata).

Contract (driver-imposed, see repo __spark_entry__.py):
- spark impl: ``(spark: SparkSession, sf_dir: str) -> DataFrame``
- oracle SQL: ANSI SQL DuckDB can run against views named after the parquet
  tables (region nation customer supplier part orders lineitem events
  documents embeddings). ``None`` for non-SQL-expressible ops (the driver
  then records a weaker rows-only check).
- Column names must match exactly between the two (the comparison sorts
  columns by name before hashing values).

Determinism rules used throughout (see SURVEY.md §7.4):
- Money-style aggregates go through DECIMAL so the sum is order-independent,
  then cast to DOUBLE for a stable comparable schema.
- Every ranking has an explicit total-order tiebreak.
- Every hash shared with the oracle is md5-derived (identical hex output in
  Spark and DuckDB), never engine-native ``hash()``.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    spark: SparkQuery
    oracle: str | None
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set


QUERIES: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    description: str = "",
    tags: tuple[str, ...] = (),
    bench: bool = False,
):
    """Decorator: register a spark query impl under ``name``."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = Query(name, fn, oracle, description, tags, bench)
        return fn

    return deco


# The driver hash-verifies only the FIRST 50 entries of all_queries() per
# round, so the window is rotated explicitly each round. STANDING POLICY
# (adopted round 6, after the round-5 window retired the last
# verification debt — every one of the 230 registered queries now has a
# green driver row):
#   (a) every query whose code changed since its newest green driver row
#       enters the next window (ROUND_CHANGED below names them — the
#       round-5 precedent: changed code must carry FRESH driver
#       evidence, not stale green rows);
#   (b) the remaining slots re-verify the queries whose newest green row
#       is OLDEST (cohort ties broken by keeping a round's cohort
#       together alphabetically), so re-verification latency is bounded
#       at ~(registry size / 50) rounds for every query.
# Enforced by tests/test_registry_window.py::
# test_window_follows_changed_plus_oldest_policy, which recomputes the
# newest-green-row map from the CORRECTNESS_r*.json files older than
# WINDOW_ROUND. Round-7 window: the 4 IVF/PQ ANN queries whose scoring
# moved into the vectorized numpy scan kernels (VERDICT r6 #2), the
# retrieval-quality capstone's hybrid-kernel swap (VERDICT r6 #1), the
# tier-overlap report's shared materialized shingle pass (VERDICT r6
# #4) plus the three dedup tiers whose signatures grew the optional
# pre-shingled frame for it (default path byte-identical, but changed
# code carries fresh driver evidence — the standing clause (a)), and
# the twenty round-7 newcomers ann_index_health_report +
# streaming_decontamination_gate + semantic_dedup_assignment +
# prototypicality_pruning + lexical_topk_retrieval +
# hybrid_retrieval_rrf + scd2_dimension_build +
# embedding_corpus_manifest + dedup_span_rewrite + doc_novelty_score +
# token_budget_mixture_sample + streaming_scd2_upsert +
# streaming_ivf_ingest + cluster_label_purity + gdpr_delete_manifest +
# minhash_estimate_audit + attribution_multi_touch + dim_snapshot_diff +
# lsh_band_tradeoff_report + user_lifespan_survival +
# dim_asof_enrichment + order_backlog_curve +
# join_cardinality_estimate_audit (never verified — clause (a) by
# definition), the dedup_minhash_lsh refactor onto the shared
# signature builders (clause (a): changed code, byte-identical plan),
# and the 18-query oldest cohort: the first 18 of the round-1 names
# that yielded slots in rounds 5/6 (topn, the tpch suite,
# union_dedup_events; user_first_last_event and
# value_histogram/percentiles yielded this round). 32 + 18 = 50.
# FOURTH SESSION: eleven never-verified newcomers (skyline_pareto_
# frontier, zorder_layout_plan, dup_chain_depth, importance_resampling_
# weights, bitmap_distinct_rollup, dedup_prefix_filter_join,
# t_closeness_audit, ranking_agreement_rbo, ann_dim_truncation_report,
# snapshot_retention_plan, km_hazard_table) plus
# dedup_ngram_jaccard_join (clause (a): _jaccard_oracle grew the
# threshold parameter for the prefix-filter twin — registered SQL byte-
# identical). Cohort trimmed from its end to the first 6 round-1 names.
# 44 + 6 = 50.
# FIFTH SESSION: six never-verified newcomers (watermark_lateness_
# profile, cdc_merge_apply, doc_code_switch_profile,
# dedup_weight_preservation, multimodal_keyframe_phash_dedup,
# ann_nprobe_recall_curve — the last also re-slots ann_topk_ivf, already
# in the window, whose pipeline was refactored into _ivf_topk_multi with
# a byte-identical default path). The cohort yields its remaining slots:
# 50 + 0 = 50, every slot clause (a).
# SIXTH SESSION: the window was already FULL (50 clause-(a) slots), so
# this session's newcomers register BEHIND the window and carry their
# clause-(a) debt to the ROUND-8 rotation (head of its ROUND_CHANGED):
# rolling_exact_distinct_users_7d, compaction_bin_packing_plan,
# deletion_vector_cost_report, data_skipping_effectiveness,
# streaming_heavy_hitters_cms, cbo_stats_selectivity_audit,
# incremental_join_view_maintenance, cube_distinct_hll,
# table_diff_merkle, streaming_bitmap_distinct_maintenance,
# knn_graph_degree_stats, dp_noisy_release_audit,
# histogram_quantile_audit, lakehouse_maintenance_planner,
# ann_topk_graph_search, quality_scorer_agreement — each
# triple-SF gated by tools/check_correctness.py in-session (the advance
# evidence the driver row will confirm next round). Also round-8 clause
# (a): multimodal_phash_neardup — the deferred perceptual_hash
# consolidation onto _block_mean_phash landed this session (identical
# integer arithmetic; re-gated at 3 SFs in-session) — and, from the
# session code-review pass (shared-builder consolidations, identical
# arithmetic, all re-gated at 3 SFs in-session): distinct_count_hll,
# hll_set_algebra, rolling_distinct_hll_7d (HLL estimate now routes
# through hll_sum_aggs/hll_corrected_col). bitmap_distinct_rollup also
# changed (bitmap_word_rows/bitmap_popcount_report) but sits in the
# CURRENT window, so its round-7 driver row verifies the new code.
# ROUND-8 WINDOW. Clause (a) — changed/never-verified code carries fresh
# driver evidence: the 16 session-6 newcomers that registered BEHIND the
# full round-7 window (each triple-SF gated in-session at registration;
# see CORRECTNESS_r07_s6.json for the committed advance evidence), plus
# multimodal_phash_neardup (the r7 _block_mean_phash consolidation) and
# distinct_count_hll / hll_set_algebra / rolling_distinct_hll_7d (the r7
# hll_sum_aggs/hll_corrected_col consolidation) whose newest green rows
# predate that changed code, plus ann_topk_ivfadc_residual (round-8
# _mk_res_scan batching: the per-probed-list query-ADC tables collapse
# into one array-slot lookup — VERDICT r7 #5). ann_topk_graph_search /
# knn_graph_degree_stats also change this round (LSH-seeded NN-descent
# graph build — VERDICT r7 #2) but are already in the newcomer 16.
# ROUND-8 FIRST-SESSION NEWCOMERS: change_data_feed_build,
# entity_resolution_blocked, and k_anon_generalization_plan are never-
# verified (clause (a) by definition) and therefore take cohort slots —
# unlike the round-7 sixth session, this window still had cohort slots
# to yield. Each is triple-SF gated in-session; CORRECTNESS_r08_s1.json
# is the committed advance evidence (the reproducible-artifact pattern
# ADVICE r7 asked for and CORRECTNESS_r07_s6.json established).
# Clause (b) — the 22 remaining slots take the oldest-green cohort:
# the full 21-query round-1 cohort (topn_orders_per_customer + the tpch
# suite + union_dedup_events + user_first_last_event +
# value_histogram/percentiles — none re-verified since r1) and the first
# 1 of the 31-query round-2 cohort alphabetically. 28 + 22 = 50.
# ROUND-9 WINDOW. Clause (a) — changed code carries fresh driver
# evidence: the CUPED pair (DECIMAL(18,6) operand fix, ADVICE r8 —
# oracle AND spark moments changed), the two span-derived weekly
# maintenance queries that gained the empty-events fallback, the three
# graph-family queries whose shared build moved to the k'=20
# working-graph NN-descent (VERDICT r8 #2 — 2k-isotropic recall 0.570
# -> 0.914), robust_scaling_mad (VERDICT r8 #8 — rank-selection sides
# broadcast, 26 shuffles/9 SMJ -> 5/0, plan changed), and the round-9
# five newcomers dedup_exact_substring_spans/_rewrite +
# ab_proportion_ztest + ann_mmr_diversified_topk + ab_mann_whitney_u
# (clause (a) by definition; each triple-SF gated in-session, the
# experiment/MMR ones in --bare ANSI-on mode too). Clause (b) — the
# 37 remaining slots take the oldest-green cohort: the full 30-name
# round-2 cohort (newest green row = r2) and the first 7 of the
# round-3 cohort alphabetically (through data_quality_report).
# 13 + 37 = 50.
# ROUND-9 SECOND SESSION: five more newcomers (clause (a) by
# definition, each triple-SF gated in-session — the ML evaluation trio
# logreg_roc_auc / logreg_isotonic_calibration /
# conformal_prediction_audit and the experiment pair
# ab_bootstrap_diff_ci / ab_sequential_msprt) take five clause-(b)
# slots; the round-3 tail (bloom_prefilter_audit, boxplot_stats_by_type,
# chi2_lang_source, cross_source_neardup_rate, data_quality_report)
# yields and heads the round-10 cohort queue. 18 + 32 = 50.
# ROUND-9 SECOND SESSION, BATCH 2: three more newcomers
# (ab_power_mde_report, item_item_cosine_topk, logreg_kfold_cv — each
# triple-SF gated in-session) take three more clause-(b) slots; the
# remaining round-3 pair (ann_lsh_recall_audit,
# benchmark_ngram_contamination) and the alphabetical tail of the
# round-2 cohort (unit_convert_horizontal_total) yield and head the
# round-10 cohort queue. 21 + 29 = 50.
# BATCH 3: ab_segment_heterogeneity (triple-SF + bare gated in-session)
# takes one more clause-(b) slot; tumbling_hourly_agg (round-2 cohort
# alphabetical tail) yields. 22 + 28 = 50.
# BATCH 4: ab_ratio_metric_delta_method (triple-SF + bare gated
# in-session); tfidf_top_terms yields. 23 + 27 = 50.
# BATCH 5: streaming_ab_msprt_maintenance (new; the idempotent
# min/max-merge twin) — ab_sequential_msprt also changed (readout
# extracted to the shared _msprt_readout; re-gated triple-SF + bare)
# and the ledgered_sum_merge -> _ledgered_merge extraction touches the
# three sum-merge consumers, all ALREADY in ROUND_CHANGED this round
# (re-gated at sf0.001 in-session). streaming_stream_stream_join
# yields. 24 + 26 = 50.
# BATCH 6: interval_overlap_join_sessions (triple-SF + bare gated
# in-session); streaming_stateful_sessions yields. 25 + 25 = 50.
# BATCH 7: coreset_kcenter_selection (triple-SF + bare gated
# in-session); streaming_sliding_agg yields. 26 + 24 = 50.
# BATCH 8: ab_segment_fdr_bh (triple-SF + bare gated in-session);
# streaming_hourly_agg yields. 27 + 23 = 50.
# ROUND-9 THIRD SESSION, BATCH 9: ab_anova_oneway (the omnibus F-test
# the segment drill-down needed a gate for) and
# ols_two_factor_regression (closed-form normal-equations OLS — the
# exact member of the regression family), each triple-SF + bare gated
# in-session; streaming_dedup_first_event and stratified_sample_per_
# lang (round-2 cohort alphabetical tail) yield and head the round-10
# cohort queue. 29 + 21 = 50.
# BATCH 10: label_propagation_communities (deterministic synchronous
# LPA over the simhash near-dup graph; triple-SF + bare gated
# in-session); rolling_1h_value_sum yields. 30 + 20 = 50.
# BATCH 11: streaming_quantile_maintenance (fixed-grid histogram
# quantile state behind the ledgered sum-merge; triple-SF + bare gated
# in-session); multimodal_metadata_stats yields. 31 + 19 = 50.
# BATCH 12: er_quality_threshold_sweep (Fellegi-Sunter decision curve
# composed on the ER output — the ER query itself is UNTOUCHED, its
# oracle wrapped as a CTE; triple-SF + bare gated in-session);
# multimodal_frame_sample yields. 32 + 18 = 50.
# BATCH 13: naive_bayes_classifier_eval (the generative classifier-
# family member, exact-rational-recompute pinned; triple-SF + bare
# gated in-session); multimodal_feature_extract yields. 33 + 17 = 50.
# BATCH 14: token_pmi_collocations (Church-&-Hanks PMI phrase mining,
# exact-integer-ratio ranking; triple-SF + bare gated in-session);
# minhash_jaccard_calibration yields. 34 + 16 = 50.
# BATCH 15: encoding_efficiency_audit (run-length/dictionary encoding
# advisor under the current write order — the within-order run
# definition keeps counting distributed; the non-unique
# (orderkey, linenumber) key forced a content-complete total ORDER BY,
# caught by the sf0.01 gate; triple-SF + bare gated in-session);
# mean_impute yields. 35 + 15 = 50.
# BATCH 16: mann_kendall_theil_sen (the environmental-monitoring
# nonparametric trend pair on the span-bounded day grid; triple-SF +
# bare gated in-session); lag6_pct_change yields. 36 + 14 = 50.
# BATCH 17: lang_source_mutual_information (the dependence scalar
# beside chi2_lang_source; triple-SF + bare gated in-session);
# lag6_diff yields. 37 + 13 = 50.
# BATCH 18: graph_clustering_coefficient (Watts-Strogatz local
# clustering + global transitivity over the near-dup graph; triple-SF
# + bare gated in-session); intradoc_repetition yields. 38 + 12 = 50.
# POST-BATCH CODE-REVIEW: the duplicated oriented-triangle enumeration
# (Spark 3-way join + SQL CTE pair) extracted to graph.tri_frame /
# graph.tri_sql — neardup_triangle_count now shares one definition
# with graph_clustering_coefficient, so its changed code takes a
# clause-(a) slot (both re-gated at 3 SFs in-session);
# gapfill_hourly_locf yields. 39 + 11 = 50.
# BATCH 19: ab_logrank_test (censoring-aware Mantel-Cox survival
# comparison between the arms, km_hazard_table's risk-set
# construction; triple-SF + bare gated in-session);
# embedding_near_dup_hybrid yields. 40 + 10 = 50.
# BATCH 20: logreg_brier_decomposition (Murphy decomposition over the
# calibration bin grid; triple-SF + bare gated in-session);
# embedding_near_dup yields. 41 + 9 = 50.
# BATCH 21: daily_cross_correlation (lead-lag Pearson CCF on the
# span-bounded day grid; triple-SF + bare gated in-session);
# doc_top_terms yields. 42 + 8 = 50.
# BATCH 22: streaming_ccf_maintenance (per-day decimal sums behind the
# ledgered sum-merge, readout shared with the batch twin via the
# _ccf_readout extraction — daily_cross_correlation's refactored code
# is already clause (a); both re-gated triple-SF + bare in-session);
# doc_chunking yields. 43 + 7 = 50.
# ROUND-10 WINDOW (optimization round 2 of 2). Clause (a) — changed
# code carries fresh driver evidence:
#   - the six streaming-maintenance queries whose per-week ledgered
#     merge loops collapsed into ONE batched state transition
#     (OPTIMIZATION_r10.md #1; bit-identical by merge algebra, pinned
#     by tests/test_r10_opt.py and the full 330/330 gate);
#   - er_quality_threshold_sweep (one grid aggregate carries total +
#     per-score; persist moved off the corpus-scale ER frame) and
#     table_diff_merkle (both versions' digests in one FILTER-clause
#     events pass);
#   - logreg_kfold_cv (ADVICE r9: _DIM%_CHUNK assert + empty-gradient
#     guard — degenerate-path only, but changed code is changed code);
#   - the direct consumers of the aggregate builders that gained the
#     pass-through `extra` grouping parameter (default path
#     plan-identical, clause (a) by the r9 shared-builder precedent):
#     ab_metric_cuped_adjustment + ab_power_mde_report (_ab_per_user),
#     ab_sequential_msprt (_msprt_per_user), daily_cross_correlation
#     (_ccf_daily_dec), bitmap_distinct_rollup +
#     rolling_exact_distinct_users_7d (bitmap_word_rows);
#   - VERDICT r9 #8's named trio whose round-9 optimization commits
#     never got a driver row: tpch_q1_pricing_summary,
#     tpch_q18_large_orders, full_outer_merge_events (builder-gated at
#     triple SF in r9; driver evidence lands this round).
# The spread()/_util change (file-size scan-width estimate replacing
# df.rdd.getNumPartitions()) touches ~68 call sites; it is covered by
# the full-gate run and the bench A/B rather than window slots — the
# decision it makes is unchanged in both regimes (see
# OPTIMIZATION_r10.md #7).
# Clause (b) — the 32 remaining slots take the oldest-green cohort:
# the full 23-name round-2 remainder and the first 9 of the round-3
# cohort alphabetically (through doc_stats_cube).  18 + 32 = 50.
WINDOW_ROUND = 10  # the driver round this window was built for
ROUND_CHANGED: list[str] = [
    "streaming_quantile_maintenance",
    "streaming_ccf_maintenance",
    "streaming_ab_moments_maintenance",
    "streaming_ab_msprt_maintenance",
    "streaming_heavy_hitters_cms",
    "streaming_bitmap_distinct_maintenance",
    "er_quality_threshold_sweep",
    "table_diff_merkle",
    "logreg_kfold_cv",
    "ab_metric_cuped_adjustment",
    "ab_power_mde_report",
    "ab_sequential_msprt",
    "daily_cross_correlation",
    "bitmap_distinct_rollup",
    "rolling_exact_distinct_users_7d",
    "tpch_q1_pricing_summary",
    "tpch_q18_large_orders",
    "full_outer_merge_events",
]
WINDOW_PRIORITY: list[str] = [
    *ROUND_CHANGED,
    # clause (b): the 23-name round-2 remainder (newest green row = r2)
    "doc_chunking",
    "doc_top_terms",
    "embedding_near_dup",
    "embedding_near_dup_hybrid",
    "gapfill_hourly_locf",
    "intradoc_repetition",
    "lag6_diff",
    "lag6_pct_change",
    "mean_impute",
    "minhash_jaccard_calibration",
    "multimodal_feature_extract",
    "multimodal_frame_sample",
    "multimodal_metadata_stats",
    "rolling_1h_value_sum",
    "stratified_sample_per_lang",
    "streaming_dedup_first_event",
    "streaming_hourly_agg",
    "streaming_sliding_agg",
    "streaming_stateful_sessions",
    "streaming_stream_stream_join",
    "tfidf_top_terms",
    "tumbling_hourly_agg",
    "unit_convert_horizontal_total",
    # then the first 9 of the round-3 cohort, alphabetical
    "ann_lsh_recall_audit",
    "benchmark_ngram_contamination",
    "bloom_prefilter_audit",
    "boxplot_stats_by_type",
    "chi2_lang_source",
    "cross_source_neardup_rate",
    "data_quality_report",
    "dedup_cluster_largestar",
    "doc_stats_cube",
]


def _ordered_names() -> list[str]:
    pri = [n for n in WINDOW_PRIORITY if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(pri)]
    return pri + rest


def _fresh_cache(fn: SparkQuery) -> SparkQuery:
    """``fn`` run on an empty cache: the frames the previous query
    persisted are released when the next one starts, instead of staying
    cached for the session and being asked to cache again by a query
    that builds the same frame."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.catalog.clearCache()
        return fn(spark, sf_dir)

    return run


def all_queries() -> dict[str, SparkQuery]:
    return {n: _fresh_cache(QUERIES[n].spark) for n in _ordered_names()}


def all_oracle_sql() -> dict[str, str]:
    return {
        n: QUERIES[n].oracle
        for n in _ordered_names()
        if QUERIES[n].oracle is not None
    }
