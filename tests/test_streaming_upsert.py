"""Streaming -> MERGE sink: foreachBatch + keyed upsert gives exactly-once
table maintenance from an at-least-once stream (the cross-batch idempotency
story of SURVEY.md §2.8, wired end-to-end)."""

from __future__ import annotations

import tempfile


def test_foreach_batch_upsert_is_idempotent(spark):
    from datalakes_and_data_integration_spark.operators.upsert import (
        merge_new_only,
        read_table,
    )
    from datalakes_and_data_integration_spark.sources.sinks import (
        write_staged,
    )

    src = tempfile.mkdtemp(prefix="fbu_src_")
    table = tempfile.mkdtemp(prefix="fbu_tbl_") + "/t"

    # Batch 1: keys 1-3. Batch 2 REDELIVERS key 3 (changed payload — must be
    # dropped, first-writer-wins) and adds keys 4-5.
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    ).coalesce(1).write.parquet(f"{src}/b1.parquet")
    spark.createDataFrame(
        [(3, "CLOBBER"), (4, "d"), (5, "e")], ["k", "v"]
    ).coalesce(1).write.parquet(f"{src}/b2.parquet")

    stream = (
        spark.readStream.schema("k bigint, v string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )

    def sink(batch_df, batch_id):
        existing = read_table(batch_df.sparkSession, table, batch_df.schema)
        write_staged(merge_new_only(existing, batch_df, keys=["k"]), table)

    ckpt = tempfile.mkdtemp(prefix="fbu_ckpt_")
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = {(r.k, r.v) for r in spark.read.parquet(table).collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")}


def test_continuous_aggregate_maintenance(spark):
    """Streaming hourly rollup maintained incrementally: two micro-batches
    contribute partial sums for the SAME hour and they ADD (the TimescaleDB
    continuous-aggregate rule), while distinct hours coexist. The
    foreachBatch ``batch_id`` is the ledger label, so a redelivered batch
    is not counted twice."""
    import datetime as dt

    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        BID,
        merge_state,
    )

    src = tempfile.mkdtemp(prefix="cagg_src_")
    table = tempfile.mkdtemp(prefix="cagg_tbl_") + "/t"
    h0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    h1 = dt.datetime(2024, 1, 1, 11, 0, 0)
    spark.createDataFrame(
        [(h0, 1.0), (h0, 2.0)], ["ts", "value"]
    ).coalesce(1).write.parquet(f"{src}/b1.parquet")
    spark.createDataFrame(
        [(h0, 4.0), (h1, 10.0)], ["ts", "value"]
    ).coalesce(1).write.parquet(f"{src}/b2.parquet")

    stream = (
        spark.readStream.schema("ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )

    def sink(batch_df, batch_id):
        partial = batch_df.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            F.lit(batch_id).alias(BID),
        ).agg(F.sum("value").alias("total"), F.count("*").alias("n"))
        return merge_state(
            batch_df.sparkSession, table, partial, [batch_id],
            key_cols=["hour"], aggs={"total": "sum", "n": "sum"},
        )

    ckpt = tempfile.mkdtemp(prefix="cagg_ckpt_")
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Redeliver the last batch (ids 0 and 1 are in the ledger): a no-op.
    last = spark.read.parquet(f"{src}/b2.parquet")
    rows = {r.hour: (r.total, r.n) for r in sink(last, 1).collect()}
    assert rows == {h0: (7.0, 3), h1: (10.0, 1)}
