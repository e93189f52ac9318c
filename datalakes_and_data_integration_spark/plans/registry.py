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
# (adopted round 6; the round-by-round history is in git):
#   (a) every query whose code changed since its newest green row
#       enters the next window (ROUND_CHANGED below names them): changed
#       code must carry FRESH evidence, not stale green rows;
#   (b) the remaining slots re-verify the queries whose newest green row
#       is OLDEST (cohort ties broken alphabetically), so re-verification
#       latency is bounded at ~(registry size / 50) rounds for every
#       query.
# Enforced by tests/test_registry_window.py::
# test_window_follows_changed_plus_oldest_policy, which recomputes the
# newest-green-row map from the CORRECTNESS_r*.json files older than
# WINDOW_ROUND.
WINDOW_ROUND = 11  # the verification round this window was built for
ROUND_CHANGED: list[str] = [
    # the ML tier's one gradient-descent trainer and its readouts
    "logreg_gd_weights",
    "logreg_confusion",
    "logreg_holdout_eval",
    "logreg_multihead_weights",
    "logreg_roc_auc",
    "conformal_prediction_audit",
    "logreg_isotonic_calibration",
    "logreg_calibration_bins",
    "logreg_brier_decomposition",
    "logreg_kfold_cv",
    "coreset_kcenter_selection",
    # the ANN tier's one fixed-point k-means trainer and assigner
    "ann_topk_ivf",
    "ann_topk_pq",
    "ann_topk_ivfadc",
    "ann_topk_ivfadc_residual",
    "ann_index_health_report",
    "ann_nprobe_recall_curve",
    "semantic_dedup_assignment",
    "prototypicality_pruning",
    "embedding_corpus_manifest",
    "cluster_label_purity",
    "streaming_ivf_ingest",
    "ann_dim_truncation_report",
]
WINDOW_PRIORITY: list[str] = [
    *ROUND_CHANGED,
    # clause (b): the round-3 cohort (newest green row = r3), alphabetical
    "dup_cluster_size_distribution",
    "ewma_smoothing",
    "feature_hashing",
    "fuzzy_name_match",
    "interdoc_duplicate_ngrams",
    "join_key_skew_report",
    "k_anonymity_audit",
    "ks_drift_n_chars",
    "multimodal_audio_features",
    "ngram_lm_perplexity",
    "pagerank_dup_hubs",
    "props_schema_profile",
    "psi_drift_n_chars",
    "quarantine_audit",
    "rolling_zscore_anomaly",
    "salted_join_user_profile",
    "seasonality_profile",
    "sequence_packing",
    "session_window_native",
    "sessionization",
    "sketch_agreement_audit",
    "source_mixture_weights",
    "split_leakage_audit",
    "streaming_quality_report",
    "streaming_static_enrich",
    "streaming_threshold_alerts",
    "typed_cast_null_on_error",
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
