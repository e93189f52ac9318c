"""Round-10 optimization equivalence pins.

The streaming maintenance family's per-week ledgered merge loops were
collapsed into ONE state transition per replay point (VERDICT r9 #1,
guide §2.4): all weekly increments are built in one batch-labeled scan
and merged once. These tests pin the two claims that make that an
optimization and not a semantics change:

1. one ``merge_state`` transition over every label lands on the
   IDENTICAL state the sequential fold of one-label transitions reaches
   (sum associativity / minmax idempotence), including when some ids
   were already applied (replay filters them);
2. the batch-label column (`_week_bid`) partitions rows exactly like
   the sequential `[lo, hi)` weekly filter loop.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _events(spark, sf="/root/testdata/sf0.001"):
    from datalakes_and_data_integration_spark.plans._util import T

    return T(spark, sf, "events").select("user_id", "value", "ts")


def _state_map(df):
    return {
        tuple(r[k] for k in df.columns[:-1]): r[df.columns[-1]]
        for r in df.collect()
    }


def _merge1(spark, state, batch, batch_id, key_cols, aggs):
    """One-label transition: ``batch`` applied under ``batch_id``."""
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        BID,
        merge_state,
    )

    return merge_state(
        spark, state, batch.withColumn(BID, F.lit(batch_id)), [batch_id],
        key_cols, aggs,
    )


def test_sum_merge_batched_equals_sequential_fold(spark, tmp_path):
    """Three per-user value-sum batches: the sequential ledgered fold
    and the one-transition batched merge must land on identical state
    values, and the batched commit must record every id (replayed ids
    are no-ops afterwards, both per-batch and batched)."""
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        merge_state,
    )

    ev = _events(spark).filter(F.col("value").isNotNull())
    parts = [
        ev.filter(F.col("user_id") % 3 == i).groupBy("user_id").agg(
            F.sum(F.col("value").cast("decimal(18,6)")).alias("v")
        )
        for i in range(3)
    ]

    seq_state = str(tmp_path / "seq")
    merged = None
    for i, b in enumerate(parts):
        merged = _merge1(spark, seq_state, b, i, ["user_id"], {"v": "sum"})
    seq = {r.user_id: r.v for r in merged.collect()}

    inc = ev.groupBy(
        (F.col("user_id") % 3).cast("int").alias("__bid"), "user_id"
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("v"))
    bat_state = str(tmp_path / "bat")
    bat = merge_state(
        spark, bat_state, inc, batch_ids=[0, 1, 2],
        key_cols=["user_id"], aggs={"v": "sum"},
    )
    got = {r.user_id: r.v for r in bat.collect()}
    assert got == seq

    # replay the whole id set: no-op (ledger short-circuits, no new job)
    again = merge_state(
        spark, bat_state, inc, batch_ids=[0, 1, 2],
        key_cols=["user_id"], aggs={"v": "sum"},
    )
    assert {r.user_id: r.v for r in again.collect()} == seq
    # replay ONE id as a one-label transition: also a no-op
    one = _merge1(spark, bat_state, parts[1], 1, ["user_id"], {"v": "sum"})
    assert {r.user_id: r.v for r in one.collect()} == seq


def test_sum_merge_batched_applies_only_unapplied_ids(spark, tmp_path):
    """State with batch 0 already applied sequentially, then a batched
    call covering ids [0, 1, 2]: batch 0's increment must NOT be
    double-counted, and the result equals the full sequential fold."""
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        merge_state,
    )

    ev = _events(spark).filter(F.col("value").isNotNull())
    parts = [
        ev.filter(F.col("user_id") % 3 == i).groupBy("user_id").agg(
            F.count("*").alias("cnt")
        )
        for i in range(3)
    ]
    seq_state = str(tmp_path / "seq")
    merged = None
    for i, b in enumerate(parts):
        merged = _merge1(
            spark, seq_state, b, i, ["user_id"], {"cnt": "sum"}
        )
    seq = {r.user_id: r.cnt for r in merged.collect()}

    mix_state = str(tmp_path / "mix")
    _merge1(spark, mix_state, parts[0], 0, ["user_id"], {"cnt": "sum"})
    inc = ev.groupBy(
        (F.col("user_id") % 3).cast("int").alias("__bid"), "user_id"
    ).agg(F.count("*").alias("cnt"))
    mixed = merge_state(
        spark, mix_state, inc, batch_ids=[0, 1, 2],
        key_cols=["user_id"], aggs={"cnt": "sum"},
    )
    assert {r.user_id: r.cnt for r in mixed.collect()} == seq


def test_minmax_merge_batched_equals_sequential_fold(spark, tmp_path):
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        merge_state,
    )

    rows = [
        (0, 1, "a", 3, None, 5),
        (0, 2, "a", 0, 2, 9),
        (1, 1, "a", 1, 4, 7),
        (2, 2, "a", 5, 1, 2),
    ]
    schema = (
        "__bid INT, user_id INT, arm STRING, enroll_week INT,"
        " conv_week INT, last_week INT"
    )
    inc = spark.createDataFrame(rows, schema)
    kw = dict(
        key_cols=["user_id", "arm"],
        aggs={"enroll_week": "min", "conv_week": "min", "last_week": "max"},
    )
    seq_state = str(tmp_path / "seq")
    merged = None
    for i in range(3):
        merged = _merge1(
            spark, seq_state, inc.filter(F.col("__bid") == i).drop("__bid"),
            i, **kw,
        )
    seq = sorted(map(tuple, merged.collect()))

    bat_state = str(tmp_path / "bat")
    bat = merge_state(spark, bat_state, inc, batch_ids=[0, 1, 2], **kw)
    assert sorted(map(tuple, bat.collect())) == seq


def test_week_bid_matches_sequential_filter_partition(spark):
    """`_week_bid` must assign every event row to exactly the batch
    index whose [lo, hi) filter the sequential loop would have matched
    — counted per index over the real fixture."""
    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.streaming_extra import (
        _week_bid,
        _weekly_bounds,
    )

    ev = T(spark, "/root/testdata/sf0.001", "events").select("ts")
    weeks = _weekly_bounds(ev)
    assert len(weeks) >= 2
    labeled = {
        r.bid: r.n
        for r in ev.groupBy(_week_bid(weeks).alias("bid"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    filtered = {}
    total = 0
    for i, (lo, hi) in enumerate(zip(weeks, weeks[1:])):
        n = ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).count()
        if n:
            filtered[i] = n
        total += n
    assert labeled == filtered
    assert total == ev.count()  # the weekly filters partition the table
