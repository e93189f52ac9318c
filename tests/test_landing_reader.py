"""Landing-zone reader (read_landing_csv): its reader options, pollutant
pruning, the nested ``{code}/`` layout, nonconforming file names staying
invisible, and late files read whatever their mtime."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T
from pyspark.sql.readwriter import DataFrameReader

from datalakes_and_data_integration_spark.sources.csv_landing import (
    BRONZE_SCHEMA,
    RAW_COLUMNS,
    RAW_HEADERS,
    read_landing_csv,
)

_HEADER = (
    "﻿Date de début;Date de fin;Organisme;code zas;Zas;code site;"
    "nom site;type d'implantation;Polluant;type d'influence;discriminant;"
    "Réglementaire;type d'évaluation;procédure de mesure;type de valeur;"
    "valeur;valeur brute;unité de mesure;taux de saisie;"
    "couverture temporelle;couverture de données;code qualité;validité"
)


def _write_landing(dirpath, code: str, date: str, values: list[float]):
    lines = [_HEADER]
    for i, v in enumerate(values):
        cells = [""] * 23
        cells[0] = f"2024/01/0{i + 1} 00:00:00"
        cells[8] = code
        cells[15] = str(v)
        cells[17] = "µg-m3"
        lines.append(";".join(cells))
    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, f"polluant-{code}_{date}.csv")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    return path


def _write_junk(dirpath):
    # Nonconforming name: must be invisible to the reader (P8).
    with open(os.path.join(dirpath, "notes.csv"), "w") as fh:
        fh.write("junk;file\n1;2\n")


def test_batch_pruning(spark, tmp_path):
    landing = tmp_path / "landing"
    _write_landing(landing, "03", "2024-01-05", [1.5, 2.5])
    _write_landing(landing, "24", "2024-01-05", [7.0])
    _write_junk(landing)

    assert read_landing_csv(spark, str(landing)).count() == 3

    # Source-level pruning: only the requested pollutant's file is read.
    pruned = read_landing_csv(spark, str(landing), pollutant_code="03")
    assert pruned.count() == 2
    assert pruned.select("pollutant_code").distinct().collect()[0][0] == "03"
    # Pruning happens at file listing: one partition for one file.
    assert pruned.rdd.getNumPartitions() == 1


def test_batch_nested_layout(spark, tmp_path):
    """The reference's ``{code}/polluant-{code}_{date}.csv`` layout: files
    in per-pollutant subdirectories are found and junk there stays
    invisible, as in the flat layout."""
    landing = tmp_path / "landing"
    _write_landing(landing / "24", "24", "2024-01-06", [9.0])
    _write_landing(landing / "03", "03", "2024-01-05", [1.0, 2.0])
    _write_junk(landing)
    _write_junk(landing / "03")
    rows = read_landing_csv(spark, str(landing)).collect()
    assert sorted(r.pollutant_code for r in rows) == ["03", "03", "24"]
    assert sorted(r.ingest_date for r in rows) == [
        "2024-01-05", "2024-01-05", "2024-01-06"
    ]


@pytest.mark.parametrize(
    "code, glob", [(None, "polluant-*_*.csv"), ("03", "polluant-03_*.csv")]
)
def test_batch_reader_options_contract(spark, tmp_path, monkeypatch, code,
                                       glob):
    """Bronze's read, option for option: the raw headers as an all-string
    schema, ``;``-separated UTF-8 with a header line, the file-name glob
    (narrowed to one pollutant when asked) and recursive listing."""
    seen: dict = {}
    schemas: list = []
    option, schema = DataFrameReader.option, DataFrameReader.schema

    def spy_option(self, key, value):
        seen[key] = value
        return option(self, key, value)

    def spy_schema(self, s):
        schemas.append(s)
        return schema(self, s)

    monkeypatch.setattr(DataFrameReader, "option", spy_option)
    monkeypatch.setattr(DataFrameReader, "schema", spy_schema)
    landing = tmp_path / "landing"
    _write_landing(landing, "03", "2024-01-05", [1.0])
    read_landing_csv(spark, str(landing), pollutant_code=code)

    assert seen == {
        "sep": ";",
        "header": True,
        "encoding": "UTF-8",
        "pathGlobFilter": glob,
        "recursiveFileLookup": True,
    }
    assert schemas == [
        T.StructType(
            [T.StructField(h, T.StringType(), True) for h in RAW_HEADERS]
        )
    ]


def test_batch_columns_land_as_raw_strings(spark, tmp_path):
    """Bronze's columns are the normalized raw names plus the two path
    columns, all strings, with cell text as written: the BOM header line
    is consumed, not read as a row."""
    landing = tmp_path / "landing"
    _write_landing(landing, "03", "2024-01-05", [1.5])
    df = read_landing_csv(spark, str(landing))
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in BRONZE_SCHEMA
    ]
    [row] = df.collect()
    assert row[RAW_COLUMNS[0]] == "2024/01/01 00:00:00"
    assert row[RAW_COLUMNS[8]] == "03"
    assert row[RAW_COLUMNS[15]] == "1.5"
    assert row[RAW_COLUMNS[17]] == "µg-m3"
    assert (row.pollutant_code, row.ingest_date) == ("03", "2024-01-05")


def test_batch_reads_late_file_with_old_mtime(spark, tmp_path):
    """A late file copied in with its old mtime (``cp -p``, ``rsync -a``,
    an object-store sync) is read like any other: the batch read lists
    by name, with no file-age cut-off."""
    landing = tmp_path / "landing"
    newest = _write_landing(landing, "24", "2024-01-06", [9.0])
    late = _write_landing(landing, "03", "2024-01-05", [1.0, 2.0])
    old = os.path.getmtime(newest) - 30 * 86400
    os.utime(late, (old, old))
    rows = read_landing_csv(spark, str(landing)).collect()
    assert sorted(r.pollutant_code for r in rows) == ["03", "03", "24"]
