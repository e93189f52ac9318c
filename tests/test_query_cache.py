"""Queries run through ``all_queries()`` start on an empty cache: the
frames one query persisted are released when the next one starts, so they
neither stay pinned for the session nor get asked to cache again by a
query that builds the same frame (minhash_estimate_audit and
minhash_jaccard_calibration persist identical shingle and signature
frames)."""

from __future__ import annotations

from __spark_entry__ import SMOKE_SF_DIR as SF


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_next_query_releases_previous_cache(spark):
    from datalakes_and_data_integration_spark.plans import all_queries

    qs = all_queries()
    before = _persistent_rdd_ids(spark)
    assert qs["minhash_estimate_audit"](spark, SF).collect()
    audit = _persistent_rdd_ids(spark) - before
    assert len(audit) == 2  # the shingle and signature frames

    calibration = qs["minhash_jaccard_calibration"](spark, SF)
    assert not audit & _persistent_rdd_ids(spark)
    assert calibration.collect()
