"""Incremental SCD Type 2 maintenance — the streaming upsert twin of
``plans/temporal.scd2_dimension_build``.

The batch query rebuilds the whole dimension from the full event log; a
100 TB warehouse cannot re-run that per ingest. The incremental form is
the delta-scoped recompute every MERGE-based pipeline runs:

1. append the micro-batch's change rows to the bronze event log (the
   accumulating keyed history);
2. recompute SCD2 versions ONLY for the entity keys the batch touched,
   reading those keys' full history back from the log — so late or
   out-of-order arrivals retro-actively split/merge versions correctly,
   which pure append-side version extension cannot do;
3. rewrite the one dimension table as its untouched keys' rows plus the
   recomputed ones, staged and swapped into place
   (``sources.sinks.write_staged``, the keyed upsert's write path; a
   table format's MERGE at scale).

Per-batch cost is O(touched keys' history + batch), not O(log): at
scale the bronze log is bucketed by the entity key so step 2's read is
partition-pruned, and step 3 is a keyed MERGE. Because every batch
containing a key recomputes that key from its COMPLETE history so far,
the final dimension after the last batch equals the batch rebuild for
ANY partitioning of events into batches and ANY arrival order — that
identity is the registered query's oracle (the same SQL as
scd2_dimension_build) and is pinned batch-vs-stream by test.

Version logic is imported from plans/temporal (``scd2_versions``), so
the incremental path cannot drift from the batch definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datalakes_and_data_integration_spark.operators.upsert import read_table
from datalakes_and_data_integration_spark.plans.temporal import (
    scd2_versions,
)
from datalakes_and_data_integration_spark.sources.sinks import write_staged


def scd2_apply_batch(
    spark: SparkSession,
    log_dir: str,
    dim_dir: str,
    batch: DataFrame,
) -> None:
    """Apply one micro-batch of (user_id, ts, event_id, attr) change rows.

    Appends the batch to the bronze log, recomputes versions for the
    touched user_ids from their full logged history, and rewrites the
    dimension in ``dim_dir`` with those users' rows swapped in.
    Deterministic given (log content, batch content) — arrival order
    inside the batch is irrelevant because the recompute sorts by
    (ts, event_id).
    """
    batch.persist()
    batch.write.mode("append").parquet(log_dir)
    touched = batch.select("user_id").distinct()
    history = spark.read.parquet(log_dir).join(touched, "user_id")
    new_dim = scd2_versions(history)
    kept = read_table(spark, dim_dir, new_dim.schema)
    if kept is not None:
        new_dim = kept.join(touched, "user_id", "left_anti").unionByName(
            new_dim
        )
    write_staged(new_dim, dim_dir)
    batch.unpersist()
