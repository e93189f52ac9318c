"""Keyed upsert — the reference's Cassandra LWT ``INSERT ... IF NOT EXISTS``
(S15, `/root/reference/src/preprocess_to_staging.py:133-146`) restated as a
MERGE-style operation.

The LWT gives first-writer-wins per primary key: a row whose
``(code_site, date_de_debut)`` already exists is silently dropped. The
Spark-native equivalents:

- ``merge_new_only(existing, updates, keys)``: a NULL-safe left anti join
  — the incoming batch minus keys already present — appended to the
  table. This IS ``MERGE INTO t USING u ON pk WHEN NOT MATCHED THEN
  INSERT`` on an engine without Delta's transaction log. The keys match
  with ``<=>``: a key cell that failed to parse (a NULL date) still names
  one row, so re-delivering it is a no-op, as in the LWT.
- against a parquet directory: ``read_table`` the live table, then
  ``merge_new_only`` and ``sources.sinks.write_staged`` (stage, then swap
  into place). On a Delta/Iceberg table the swap is replaced by a real
  MERGE; the dataflow is identical. The silver zone (pipeline/silver.py)
  is this MERGE over a pollutant-partitioned table: there is one build,
  and a from-scratch rebuild is a MERGE into an empty dir.

Tables kept under other merge rules commit through ``merge_state`` or
the same staged write. An additive MERGE (measures that sum, min or max on key collision) is
``streaming.sketch_maintenance.merge_state``, whose ledger also makes a
redelivered batch a no-op. The SCD2 dimension is
``streaming.incremental_scd2.scd2_apply_batch``, a keyed rewrite through
``read_table`` and ``write_staged``.

Scale: the anti join shuffles on the PK unless the table layout already
co-locates it (bucket both sides by key and the join is shuffle-free); the
incoming batch is typically << the table, so broadcast of the BATCH (not
the table) keeps the table scan local.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from datalakes_and_data_integration_spark.operators.dedup import (
    dedup_keep_first,
)
from datalakes_and_data_integration_spark.operators.merge import keys_match


def read_table(
    spark: SparkSession, table_dir: str, schema: StructType
) -> DataFrame | None:
    """The live table read with the incoming batch's ``schema``, or None
    when ``table_dir`` does not exist yet. The schema'd read turns a table
    that holds only ``_SUCCESS`` (an empty day's write) into an empty
    frame instead of a schema-inference error."""
    if not os.path.isdir(table_dir):
        return None
    return spark.read.schema(schema).parquet(table_dir)


def merge_new_only(
    existing: DataFrame | None,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence | None = None,
) -> DataFrame:
    """Rows of ``updates`` whose key is absent from ``existing`` (appended to
    existing), with first-writer-wins inside the batch. Keys compare
    NULL-safe, like the in-batch dedup's window partition and
    ``full_outer_merge``, so the result's key is unique on every path.

    ``order_by`` makes the within-batch winner deterministic (the reference's
    winner was S3 listing order — unspecified; SURVEY.md §7.4).
    """
    if order_by is None:
        order_by = [c for c in updates.columns]  # total order over all cols
    keys = list(keys)
    fresh = dedup_keep_first(updates, keys=keys, order_by=order_by)
    if existing is None:
        return fresh
    old_keys = existing.select(*keys).alias("o")
    fresh = fresh.alias("n").join(
        old_keys, keys_match("n", "o", keys), "left_anti"
    )
    return existing.unionByName(fresh)

