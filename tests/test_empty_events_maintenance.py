"""Round-9 ADVICE regression: an EMPTY events table must yield empty
maintained state and an oracle-matching (mostly empty) report from all
three span-derived weekly maintenance queries — not an AttributeError
from None.date() inside _weekly_bounds. Also holds the empty-input
oracle pins of the batch queries whose ungrouped sums used to come out
NULL where the oracle has 0, of the hybrid similarity kernels, which
used to fail on a corpus with no chunk to scan, of the ANN tier's
trained queries, which used to fail with no training row, and of the
ML tier's queries on degenerate embeddings (none, one row in one split
bucket, all NULL or some NULL)."""

from __future__ import annotations

import duckdb
import pytest


def _mk_empty_events(tmpdir: str) -> str:
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT 0::BIGINT AS event_id, TIMESTAMP '2024-01-01' AS ts,
                 0::BIGINT AS user_id, '' AS event_type, 0.0::DOUBLE AS value,
                 '' AS props
          WHERE FALSE
        ) TO '{tmpdir}/events.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    return tmpdir


def test_weekly_bounds_empty_is_empty(spark, tmp_path):
    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.streaming_extra import (
        _weekly_bounds,
    )

    sf = _mk_empty_events(str(tmp_path))
    assert _weekly_bounds(T(spark, sf, "events")) == []


def test_maintenance_queries_survive_empty_events(spark, tmp_path):
    from datalakes_and_data_integration_spark.plans.experiment import (
        streaming_ab_moments_maintenance,
    )
    from datalakes_and_data_integration_spark.plans.streaming_extra import (
        streaming_bitmap_distinct_maintenance,
        streaming_heavy_hitters_cms,
    )

    sf = _mk_empty_events(str(tmp_path))
    assert streaming_ab_moments_maintenance(spark, sf).collect() == []
    assert streaming_heavy_hitters_cms(spark, sf).collect() == []
    rows = streaming_bitmap_distinct_maintenance(spark, sf).collect()
    assert [(r.event_type, r.n_users) for r in rows] == [("__all__", 0)]


def _mk_empty_table(tmpdir: str, table: str) -> str:
    """``table`` with the sf0.001 schema and no rows."""
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('/root/testdata/sf0.001/{table}.parquet')
          WHERE FALSE
        ) TO '{tmpdir}/{table}.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    return tmpdir


def _oracle_match(spark, name: str, sf: str):
    from datalakes_and_data_integration_spark.plans import all_queries
    from tools.check_correctness import compare, duck_connect

    con = duck_connect(sf)
    try:
        return compare(name, all_queries()[name](spark, sf), con)
    finally:
        con.close()


def test_bitmap_report_on_empty_words_counts_zero(spark, tmp_path):
    """An empty events frame builds an empty word file; the OR-merged
    __all__ row must read 0 (the oracle's count(DISTINCT) over no
    rows), not NULL — on the helper and on the registry query."""
    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.sketches import (
        bitmap_popcount_report,
        bitmap_word_rows,
    )

    sf = _mk_empty_events(str(tmp_path))
    words = bitmap_word_rows(T(spark, sf, "events"), "event_type", "user_id")
    rows = bitmap_popcount_report(words, "event_type").collect()
    assert [(r.event_type, r.n_users) for r in rows] == [("__all__", 0)]
    ok, msg = _oracle_match(spark, "bitmap_distinct_rollup", sf)
    assert ok, msg


def test_er_threshold_sweep_on_empty_grid_matches_oracle(spark, tmp_path):
    """No customers -> an empty ER grid: every threshold row must carry
    n_true = 0, so fn = 0 and recall = 0.0 (not NULL), as the oracle."""
    from datalakes_and_data_integration_spark.plans.relational import (
        er_quality_threshold_sweep,
    )

    sf = _mk_empty_table(str(tmp_path), "customer")
    rows = er_quality_threshold_sweep(spark, sf).collect()
    assert rows and all(
        (r.fn, r.recall, r.precision, r.f1) == (0, 0.0, 0.0, 0.0)
        for r in rows
    )
    ok, msg = _oracle_match(spark, "er_quality_threshold_sweep", sf)
    assert ok, msg


@pytest.mark.parametrize(
    "name", ["ann_topk_bruteforce_hybrid", "embedding_near_dup_hybrid"]
)
def test_hybrid_similarity_on_empty_embeddings_matches_oracle(
    spark, tmp_path, name
):
    """An empty corpus broadcasts no chunk; the scan must still yield an
    empty candidate frame, so the query returns the oracle's 0 rows."""
    sf = _mk_empty_table(str(tmp_path), "embeddings")
    ok, msg = _oracle_match(spark, name, sf)
    assert ok, msg


@pytest.mark.parametrize(
    "name",
    [
        # compose on the fixed-point k-means trainer
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
        # recall over no query, greedy picks from no vector
        "ann_dim_truncation_report",
        "coreset_kcenter_selection",
    ],
)
def test_ann_tier_on_empty_embeddings_matches_oracle(spark, tmp_path, name):
    """No training row leaves no centroid: nothing is assigned, so the
    trained queries return the oracle's empty (or zero-count) reports
    instead of failing on a NULL-typed distance array or an empty
    codebook; the two eval reports divide by no query and pick from no
    vector the way the oracles do."""
    sf = _mk_empty_table(str(tmp_path), "embeddings")
    ok, msg = _oracle_match(spark, name, sf)
    assert ok, msg


def test_index_health_on_empty_embeddings_matches_oracle_under_ansi(
    spark, tmp_path
):
    """The occupancy share divides by the corpus size: over an empty
    corpus it is the oracle's NULL also in an ANSI session (Spark 4's
    default), not a DIVIDE_BY_ZERO error."""
    sf = _mk_empty_table(str(tmp_path), "embeddings")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        ok, msg = _oracle_match(spark, "ann_index_health_report", sf)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert ok, msg


def test_doc_stats_cube_on_empty_documents_matches_oracle(spark, tmp_path):
    """The CUBE's grand-total row survives an empty table, as in SQL:
    (NULL, NULL, 0 docs, NULL chars, 0 sources)."""
    sf = _mk_empty_table(str(tmp_path), "documents")
    ok, msg = _oracle_match(spark, "doc_stats_cube", sf)
    assert ok, msg


def test_continuous_aggregate_on_empty_events_matches_oracle(spark, tmp_path):
    """An empty events table leaves an empty rollup; the stored state must
    still read back with its schema (a partitioned write of no rows leaves
    only ``_SUCCESS``, which has none), so the query returns the oracle's
    0 rows."""
    sf = _mk_empty_table(str(tmp_path), "events")
    ok, msg = _oracle_match(spark, "continuous_aggregate_daily", sf)
    assert ok, msg


def _mk_embeddings(tmpdir: str, fixture: str) -> str:
    """sf0.001 ``embeddings`` cut down to one degenerate ``fixture``: no
    row, the first row of one md5 split bucket (train [0,80), calibration
    [80,90), test [90,100)), every row with a NULL embedding, or every
    seventh."""
    from __spark_entry__ import SMOKE_SF_DIR
    from datalakes_and_data_integration_spark.plans.ml import (
        _calib_pred_duck,
        _split_pred_duck,
    )

    train, test = _split_pred_duck()
    bucket = {"train_row": train, "calib_row": _calib_pred_duck(), "test_row": test}
    if fixture == "empty":
        rows = "SELECT * FROM e WHERE FALSE"
    elif fixture == "null_embedding":
        rows = "SELECT * REPLACE (CAST(NULL AS FLOAT[]) AS embedding) FROM e"
    elif fixture == "some_null_embeddings":
        rows = (
            "SELECT * REPLACE (CASE WHEN vec_id % 7 = 3 THEN NULL"
            " ELSE embedding END AS embedding) FROM e"
        )
    else:
        rows = f"SELECT * FROM e WHERE {bucket[fixture]} ORDER BY vec_id LIMIT 1"
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          WITH e AS (
            SELECT * FROM read_parquet('{SMOKE_SF_DIR}/embeddings.parquet')
          )
          {rows}
        ) TO '{tmpdir}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    return tmpdir


@pytest.mark.parametrize(
    "fixture",
    [
        "empty",
        "train_row",
        "calib_row",
        "test_row",
        "null_embedding",
        "some_null_embeddings",
    ],
)
@pytest.mark.parametrize(
    "name",
    [
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
    ],
)
def test_ml_tier_on_degenerate_embeddings_matches_oracle(
    spark, tmp_path, name, fixture
):
    """A head with no training row, or only NULL embeddings, has no model:
    the weights and logits are the oracles' NULLs (k-fold keeps its zero
    weights, as its oracle's coalesce does), a k-center pick with a NULL
    embedding is at a NULL distance, and a NULL logit or conformal score
    sorts last in the rank windows, as in the oracles."""
    sf = _mk_embeddings(str(tmp_path), fixture)
    ok, msg = _oracle_match(spark, name, sf)
    assert ok, msg
