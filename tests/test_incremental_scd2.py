"""Incremental SCD2 upsert (streaming/incremental_scd2.py): the
delta-scoped recompute must equal the batch rebuild under crafted
OUT-OF-ORDER arrival — the retroactive-version-split case that
append-side version extension gets wrong — and the registered streaming
query must equal the registered batch query row for row."""

from __future__ import annotations

import datetime as dt

SF = "/root/testdata/sf0.001"


def _rows(*specs):
    """(user, day, event_id, attr) -> change rows with day-granularity
    timestamps."""
    return [
        (u, dt.datetime(2024, 1, d), e, a) for (u, d, e, a) in specs
    ]


def _mkdf(spark, specs):
    return spark.createDataFrame(
        _rows(*specs),
        "user_id long, ts timestamp, event_id long, attr long",
    )


def test_out_of_order_arrival_splits_versions_retroactively(
    spark, tmp_path
):
    """User 1's attr timeline is A(day1) A(day3) — one version — until a
    LATE day-2 event with attr B arrives in a second batch: the correct
    history is A[1,2) B[2,3) A[3,inf), three versions. An append-only
    upsert would keep one open A version; the scoped recompute must
    split it."""
    from datalakes_and_data_integration_spark.plans.temporal import (
        scd2_versions,
    )
    from datalakes_and_data_integration_spark.streaming.incremental_scd2 import (
        scd2_apply_batch,
    )

    log_dir = str(tmp_path / "log")
    dim_dir = str(tmp_path / "dim")
    b0 = _mkdf(spark, [(1, 1, 10, 0), (1, 3, 30, 0), (2, 1, 11, 5)])
    b1 = _mkdf(spark, [(1, 2, 20, 1)])  # the late, version-splitting row
    scd2_apply_batch(spark, log_dir, dim_dir, b0)
    after0 = {
        (r.user_id, r.version): r
        for r in spark.read.parquet(dim_dir).collect()
    }
    assert len([k for k in after0 if k[0] == 1]) == 1  # one A version
    scd2_apply_batch(spark, log_dir, dim_dir, b1)
    got = spark.read.parquet(dim_dir).collect()
    u1 = sorted(
        [r for r in got if r.user_id == 1], key=lambda r: r.version
    )
    assert [r.attr for r in u1] == [0, 1, 0]
    assert [r.is_current for r in u1] == [False, False, True]
    assert u1[0].valid_to == u1[1].valid_from
    assert u1[1].valid_to == u1[2].valid_from
    # Untouched user 2 survives the swap unchanged.
    u2 = [r for r in got if r.user_id == 2]
    assert len(u2) == 1 and u2[0].is_current
    # And the final state equals a from-scratch rebuild of all rows.
    full = scd2_versions(b0.unionByName(b1)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, full))


def test_streaming_query_equals_batch_rebuild(spark):
    from datalakes_and_data_integration_spark.plans import all_queries

    q = all_queries()
    stream_rows = q["streaming_scd2_upsert"](spark, SF).collect()
    batch_rows = q["scd2_dimension_build"](spark, SF).collect()
    assert sorted(map(tuple, stream_rows)) == sorted(map(tuple, batch_rows))
