"""Sources & sinks: CSV landing zone, catalog helpers, warehouse writers.

Maps the reference's connector surface (SURVEY.md §2.1, S1-S18): S3 prefix
layout -> partition directories, Cassandra tables -> partitioned parquet
managed by the catalog, TimescaleDB sink -> staged parquet writes and a
Postgres COPY load.
"""

from datalakes_and_data_integration_spark.sources.csv_landing import (
    RAW_COLUMNS,
    read_landing_csv,
)
from datalakes_and_data_integration_spark.sources.catalog import (
    ACTIVE_POLLUTANTS,
    UNIT_FACTORS,
    list_tables,
)
from datalakes_and_data_integration_spark.sources.sinks import (
    write_partitioned,
)

__all__ = [
    "RAW_COLUMNS",
    "read_landing_csv",
    "ACTIVE_POLLUTANTS",
    "UNIT_FACTORS",
    "list_tables",
    "write_partitioned",
]
