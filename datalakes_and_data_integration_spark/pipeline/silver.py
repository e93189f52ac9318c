"""Silver zone: filter -> type -> dedup (reference staging).

Reference behaviors reproduced (SURVEY.md §2.2/§2.4):
- P1 name normalization: bronze is read with ``BRONZE_SCHEMA``, whose
  names are already normalized, so no rename happens here.
- P2 typed casts, null-on-error: two-format timestamp parse
  (preprocess_to_staging.py:43-53), float parse (:56-61), empty-string ->
  null (:39-40).
- P3 empty-row filter (:195).
- A1 full-row distinct per pollutant (:171,193-197).
- A2 PK dedup on (code_site, date_de_debut) — the reference's LWT
  first-writer-wins (:140) made deterministic with an explicit
  (ingest_date, source_order) tiebreak (SURVEY.md §7.4).
- S15 staging contract: every run MERGEs-new-only into the silver table
  (``INSERT ... IF NOT EXISTS``, SURVEY.md §2.8). A key already in silver
  — including an undated one — keeps its first-written row; a re-fetched
  day with changed values changes nothing.

There is one build. A from-scratch rebuild is the same MERGE into an
empty (or absent) silver dir. Each dedup costs one exchange: the full-row
DISTINCT hashes all 25 columns, the PK dedup the 3 key columns. The
DISTINCT stays although the PK dedup alone keeps the same number of rows:
its grouping normalizes signed zeros, so a ``-0.0`` value comes out
``0.0``, and silver's and gold's contents depend on that. Output is
partitioned by pollutant (the per-pollutant Cassandra tables) and sorted
within partitions by (code_site, date_de_debut) — the clustering order
(:107-108) — written to a staging dir and swapped into place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.operators import dedup_full_row
from datalakes_and_data_integration_spark.operators.upsert import (
    merge_new_only,
    read_table,
)
from datalakes_and_data_integration_spark.sources.csv_landing import (
    BRONZE_SCHEMA,
)
from datalakes_and_data_integration_spark.sources.sinks import write_staged

TIMESTAMP_COLS = ["date_de_debut", "date_de_fin"]
FLOAT_COLS = ["valeur", "valeur_brute", "taux_de_saisie"]
PK = ["code_site", "date_de_debut"]


def typed_cast(df: DataFrame) -> DataFrame:
    """Apply the silver type surface (SURVEY.md §1.2) with null-on-error."""
    out = df
    for c in df.columns:
        if c in TIMESTAMP_COLS:
            out = out.withColumn(
                c,
                F.coalesce(
                    F.try_to_timestamp(F.col(c), F.lit("yyyy/MM/dd HH:mm:ss")),
                    F.try_to_timestamp(F.col(c), F.lit("yyyy/MM/dd")),
                ),
            )
        elif c in FLOAT_COLS:
            out = out.withColumn(
                c, F.nullif(F.col(c), F.lit("")).cast("double")
            )
        elif dict(df.dtypes).get(c) == "string":
            out = out.withColumn(c, F.nullif(F.col(c), F.lit("")))
    return out


def drop_empty_rows(df: DataFrame, data_cols: list[str]) -> DataFrame:
    """Drop rows whose every data cell is blank (reference P3)."""
    any_filled = None
    for c in data_cols:
        cond = F.nullif(F.trim(F.col(c).cast("string")), F.lit("")).isNotNull()
        any_filled = cond if any_filled is None else (any_filled | cond)
    return df.filter(any_filled)


def _clean_bronze(bronze: DataFrame) -> tuple[DataFrame, list]:
    """Drop empty rows -> typed cast -> full-row dedup, plus
    the first-writer-wins tiebreak for the in-batch PK dedup.

    The reference keeps whichever row S3 happened to list first
    (unspecified order, SURVEY.md §7.4); the tiebreak keeps the
    lexicographically smallest row — earliest ingest file first, then
    every remaining column, which IS a total order."""
    data_cols = [
        c for c in bronze.columns if c not in ("pollutant_code", "ingest_date")
    ]
    df = dedup_full_row(typed_cast(drop_empty_rows(bronze, data_cols)))
    tiebreak = [F.col("ingest_date").asc_nulls_last()] + [
        F.col(c).asc_nulls_last()
        for c in sorted(df.columns)
        if c != "ingest_date"
    ]
    return df, tiebreak


def build_silver(
    spark: SparkSession, bronze_dir: str, silver_dir: str
) -> DataFrame:
    """Clean the bronze zone and MERGE its new keys into silver."""
    bronze = spark.read.schema(BRONZE_SCHEMA).parquet(bronze_dir)
    df, tiebreak = _clean_bronze(bronze)
    merged = merge_new_only(
        read_table(spark, silver_dir, df.schema),
        df,
        keys=["pollutant_code", *PK],
        order_by=tiebreak,
    )
    write_staged(
        merged, silver_dir, partition_by=["pollutant_code"], sort_within=PK
    )
    return spark.read.schema(df.schema).parquet(silver_dir)
