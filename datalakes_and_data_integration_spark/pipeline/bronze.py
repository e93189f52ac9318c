"""Bronze zone: landing CSVs -> partitioned parquet (reference raw zone).

Reference behavior: CSVs land in S3 keyed ``{code}/polluant-{code}_{date}
.csv`` (`/root/reference/src/unpacked_to_raw.py:122-124,228`); the raw zone
is immutable bytes. Bronze preserves that immutability as
``pollutant_code=XX/ingest_date=YYYY-MM-DD/`` partition directories —
partition pruning replaces the prefix scans (S11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datalakes_and_data_integration_spark.sources.csv_landing import (
    BRONZE_SCHEMA,
    read_landing_csv,
)
from datalakes_and_data_integration_spark.sources.sinks import write_partitioned


def build_bronze(
    spark: SparkSession, landing_dir: str, bronze_dir: str
) -> DataFrame:
    """Ingest every conforming landing CSV into the bronze zone."""
    raw = read_landing_csv(spark, landing_dir)
    write_partitioned(
        raw, bronze_dir, partition_by=["pollutant_code", "ingest_date"]
    )
    # Schema-specified read-back: an empty landing zone writes only
    # _SUCCESS, and schema inference on that raises — a no-new-files day
    # must yield an empty frame, not an error.
    return spark.read.schema(BRONZE_SCHEMA).parquet(bronze_dir)
