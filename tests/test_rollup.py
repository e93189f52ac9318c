"""Continuous-aggregate rollup invariants (operators/rollup.py).

The correctness of incremental maintenance rests on the partials forming
a commutative monoid under merge: any split of the input into increments,
merged in any order or tree shape, must equal the single-shot rollup.
The end-to-end maintenance scenario (history and nightly increments
folded by one ledgered ``merge_state`` transition under ``ROLLUP_AGGS``,
tail merge-on-read) is oracle-checked by `continuous_aggregate_daily`.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _events(spark):
    from datalakes_and_data_integration_spark.plans._util import T

    return T(spark, SF, "events").select("ts", "event_type", "value")


def _rows(df):
    return sorted(
        (str(r.bucket), r.event_type, r.n, str(r.sum_v), r.min_v, r.max_v)
        for r in df.collect()
    )


def test_merge_tree_shape_invariance(spark):
    from datalakes_and_data_integration_spark.operators.rollup import (
        merge_rollups,
        partial_rollup,
    )

    e = _events(spark)
    bucket = F.col("ts").cast("date")
    full = partial_rollup(e, bucket, ["event_type"])

    # Split by a hash of the row — increments deliberately straddle
    # buckets so the merge has real combining to do in every bucket.
    parts = [
        partial_rollup(
            e.filter(F.abs(F.hash("ts", "value")) % 3 == i),
            bucket,
            ["event_type"],
        )
        for i in range(3)
    ]
    left_fold = merge_rollups(merge_rollups(parts[0], parts[1]), parts[2])
    one_shot = merge_rollups(*parts)
    assert _rows(left_fold) == _rows(full)
    assert _rows(one_shot) == _rows(full)


def test_merge_identity_and_empty_increment(spark):
    from datalakes_and_data_integration_spark.operators.rollup import (
        merge_rollups,
        partial_rollup,
    )

    e = _events(spark)
    bucket = F.col("ts").cast("date")
    full = partial_rollup(e, bucket, ["event_type"])
    empty = partial_rollup(
        e.filter(F.lit(False)), bucket, ["event_type"]
    )
    assert _rows(merge_rollups(full, empty)) == _rows(full)

