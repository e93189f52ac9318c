"""CSV landing-zone reader (reference S5/S6/S11/S12, P4/P8).

The reference lists S3 objects by ``{pollutant_code}/`` prefix and parses
each with ``csv.reader(delimiter=';')`` after UTF-8 decode
(`/root/reference/src/preprocess_to_staging.py:113-130`), with the landing
key ``{code}/polluant-{code}_{date}.csv``
(`/root/reference/src/unpacked_to_raw.py:122-124`).

Spark restatement: ``read_landing_csv`` is bronze's batch read. The
reference is batch-only too: its 3-day re-fetch lands files again, and
silver's MERGE keeps only the rows it has not seen. One
explicit schema, ``sep=';'``, header, UTF-8; pollutant code and ingest date
come from the file path via ``input_file_name()`` (S6's filename parser),
and badly-named files are excluded by glob (P8). Reading a pollutant subset
prunes files via ``pathGlobFilter`` — the engine-side equivalent of the
prefix scan (S11). ``recursiveFileLookup`` reads the flat layout and the
reference's nested ``{code}/polluant-...`` layout alike.

Scale: file listing is driver-side but parallelized by Spark for large dirs;
splits are per-file here (CSV is splittable only without multiline quoting);
at 100 TB the landing zone should be many medium files (100-500 MB), which
this layout produces naturally (one file per pollutant x day x fetch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalakes_and_data_integration_spark.operators.normalize import (
    normalize_column_name,
)

# The 23 raw French headers, in CSV order (reference DDL
# preprocess_to_staging.py:82-110 / FIXTURES.md §1), and the column
# names they normalize to.
RAW_HEADERS: list[str] = [
    "Date de début",
    "Date de fin",
    "Organisme",
    "code zas",
    "Zas",
    "code site",
    "nom site",
    "type d'implantation",
    "Polluant",
    "type d'influence",
    "discriminant",
    "Réglementaire",
    "type d'évaluation",
    "procédure de mesure",
    "type de valeur",
    "valeur",
    "valeur brute",
    "unité de mesure",
    "taux de saisie",
    "couverture temporelle",
    "couverture de données",
    "code qualité",
    "validité",
]
RAW_COLUMNS: list[str] = [normalize_column_name(h) for h in RAW_HEADERS]

RAW_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), True) for c in RAW_COLUMNS]
)

# polluant-{code}_{date}.csv — the filename contract (unpacked_to_raw.py:
# 213-228); nonconforming files are skipped there, here excluded by glob.
_FILE_GLOB = "polluant-*_*.csv"
_CODE_RE = r"polluant-([^_/]+)_"
_DATE_RE = r"polluant-[^_/]+_([0-9-]+)\.csv"


# Bronze's columns: the raw ones plus the two path-derived ones.
BRONZE_SCHEMA = T.StructType(
    RAW_SCHEMA.fields
    + [
        T.StructField("pollutant_code", T.StringType(), True),
        T.StructField("ingest_date", T.StringType(), True),
    ]
)


def read_landing_csv(
    spark: SparkSession,
    landing_dir: str,
    pollutant_code: str | None = None,
) -> DataFrame:
    """Read raw measurement CSVs with landing-path metadata columns.

    All 23 columns land as strings (typing happens in silver, mirroring the
    reference's parse-then-convert split). The read schema carries the raw
    headers, so Spark's header check passes on a conforming file and warns
    on a drifted one — the P4 analogue of skip-with-warning; the columns
    are then renamed to ``RAW_COLUMNS``.
    """
    glob = (
        f"polluant-{pollutant_code}_*.csv" if pollutant_code else _FILE_GLOB
    )
    df = (
        spark.read.schema(
            T.StructType(
                [T.StructField(h, T.StringType(), True) for h in RAW_HEADERS]
            )
        )
        .option("sep", ";")
        .option("header", True)  # consumes the (BOM-carrying) header line
        .option("encoding", "UTF-8")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", True)
        .csv(landing_dir)
        .toDF(*RAW_COLUMNS)
    )
    fname = F.input_file_name()
    return df.withColumn(
        "pollutant_code", F.regexp_extract(fname, _CODE_RE, 1)
    ).withColumn("ingest_date", F.regexp_extract(fname, _DATE_RE, 1))
