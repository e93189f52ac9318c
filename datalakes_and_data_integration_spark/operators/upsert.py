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
- ``upsert_parquet``: the same, against a parquet directory, written
  through ``sources.sinks.write_staged`` (stage, then swap into place).
  On a Delta/Iceberg table the swap is replaced by a real MERGE; the
  dataflow is identical. The silver zone (pipeline/silver.py) is this
  MERGE over a pollutant-partitioned table: there is one build, and a
  from-scratch rebuild is a MERGE into an empty dir.

Scale: the anti join shuffles on the PK unless the table layout already
co-locates it (bucket both sides by key and the join is shuffle-free); the
incoming batch is typically << the table, so broadcast of the BATCH (not
the table) keeps the table scan local.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from datalakes_and_data_integration_spark.operators.dedup import (
    dedup_keep_first,
)
from datalakes_and_data_integration_spark.operators.merge import keys_match
from datalakes_and_data_integration_spark.sources.sinks import (  # noqa: F401
    swap_dir,
    write_staged,
)


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


def upsert_parquet(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence | None = None,
) -> DataFrame:
    """MERGE-new-only into a parquet directory, atomically (stage + swap)."""
    existing = read_table(spark, table_dir, updates.schema)
    write_staged(
        merge_new_only(existing, updates, keys, order_by=order_by), table_dir
    )
    return spark.read.parquet(table_dir)


def merge_additive(
    existing: DataFrame | None,
    updates: DataFrame,
    keys: Sequence[str],
    sums: Sequence[str],
) -> DataFrame:
    """Additive MERGE for partial aggregates: on key collision the measure
    columns ADD instead of first-writer-wins — the maintenance rule for an
    incrementally materialized aggregate (counts/sums are mergeable;
    avg = sum/count at read time; min/max via a GREATEST/LEAST variant).

    ``MERGE INTO t USING u ON pk WHEN MATCHED THEN UPDATE SET x = t.x + u.x
    WHEN NOT MATCHED THEN INSERT`` without a table format's transaction log:
    union the frames and re-aggregate on the key. One shuffle; at scale the
    table is bucketed by key so the shuffle only moves the (small) update
    batch.
    """
    keys = list(keys)
    sums = list(sums)
    both = updates if existing is None else existing.unionByName(updates)
    return both.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sums]
    )


def upsert_parquet_additive(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    keys: Sequence[str],
    sums: Sequence[str],
) -> DataFrame:
    """merge_additive against a parquet directory (stage + swap, like
    upsert_parquet)."""
    existing = read_table(spark, table_dir, updates.schema)
    write_staged(merge_additive(existing, updates, keys, sums), table_dir)
    return spark.read.parquet(table_dir)


def scd2_merge(
    existing: DataFrame | None,
    updates: DataFrame,
    key: str,
    attrs: Sequence[str],
    effective_ts: str,
    end_of_time: str = "9999-12-31 00:00:00",
) -> DataFrame:
    """Slowly-changing-dimension type 2: keep full attribute history.

    ``existing`` carries ``(key, attrs..., valid_from, valid_to,
    is_current)``; ``updates`` carries ``(key, attrs..., effective_ts)``.
    A changed attribute set closes the current version (valid_to =
    effective_ts, is_current = false) and opens a new one; an unchanged
    row is a no-op; a new key opens its first version.

    Expressed as two joins + a union (MERGE WHEN MATCHED AND <changed>
    semantics without a table format). One shuffle on the key; history
    tables should be bucketed by key so only the update batch moves.
    """
    attrs = list(attrs)
    upd = updates.select(
        F.col(key),
        *[F.col(a) for a in attrs],
        F.col(effective_ts).alias("__eff"),
    )
    # One update row per key per batch, or the full join below fans out
    # (multiple closed copies of the current version, multiple simultaneous
    # is_current rows). Keep the LATEST effective_ts per key; ties break on
    # the attribute values for determinism.
    upd = dedup_keep_first(
        upd,
        keys=[key],
        order_by=[F.col("__eff").desc(), *[F.col(a) for a in attrs]],
    )
    if existing is None:
        return upd.select(
            key,
            *attrs,
            F.col("__eff").alias("valid_from"),
            F.lit(end_of_time).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )

    cur = existing.filter(F.col("is_current"))
    hist = existing.filter(~F.col("is_current"))
    changed_cond = " OR ".join(
        f"NOT (cur.{a} <=> upd.{a})" for a in attrs
    )
    joined = cur.alias("cur").join(
        upd.alias("upd"), F.col(f"cur.{key}") == F.col(f"upd.{key}"), "full"
    )
    # 1. untouched current rows (no update, or update identical)
    untouched = joined.filter(
        F.col(f"upd.{key}").isNull()
        | (F.col(f"cur.{key}").isNotNull() & ~F.expr(changed_cond))
    ).select("cur.*")
    # 2. closed versions: current rows whose update differs
    closed = (
        joined.filter(
            F.col(f"cur.{key}").isNotNull()
            & F.col(f"upd.{key}").isNotNull()
            & F.expr(changed_cond)
        )
        .select(
            F.col(f"cur.{key}").alias(key),
            *[F.col(f"cur.{a}").alias(a) for a in attrs],
            F.col("cur.valid_from").alias("valid_from"),
            F.col("upd.__eff").alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
    )
    # 3. opened versions: changed updates + brand-new keys
    opened = (
        joined.filter(
            F.col(f"upd.{key}").isNotNull()
            & (F.col(f"cur.{key}").isNull() | F.expr(changed_cond))
        )
        .select(
            F.col(f"upd.{key}").alias(key),
            *[F.col(f"upd.{a}").alias(a) for a in attrs],
            F.col("upd.__eff").alias("valid_from"),
            F.lit(end_of_time).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    return hist.unionByName(untouched).unionByName(closed).unionByName(opened)
