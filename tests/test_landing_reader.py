"""Landing-zone reader (read_landing_csv / stream_landing_csv): pollutant
pruning, and exactly-once incremental pickup of new landing files across
checkpointed restarts — late files that sort before processed ones, the
nested ``{code}/`` layout, and late files copied in with an old mtime."""

from __future__ import annotations

import os

from datalakes_and_data_integration_spark.sources.csv_landing import (
    read_landing_csv,
    stream_landing_csv,
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


def _drain(spark, landing, tmp_path):
    """One Trigger.AvailableNow run over ``landing`` into a parquet sink,
    resuming from the same checkpoint every call (the memory sink cannot
    recover a checkpoint; a restartable file sink is the realistic
    landing-ingest shape anyway). Returns every row the sink holds."""
    out = str(tmp_path / "out")
    q = (
        stream_landing_csv(spark, str(landing))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out).collect()


def _sorted_rows(rows):
    return sorted(tuple(r) for r in rows)


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


def test_stream_incremental_exactly_once(spark, tmp_path):
    landing = tmp_path / "landing"
    _write_landing(landing, "03", "2024-01-05", [1.0, 2.0])
    _write_junk(landing)

    assert len(_drain(spark, landing, tmp_path)) == 2

    # A new landing file arrives; the SAME checkpoint picks up ONLY it —
    # the sink now holds old + new with no re-read of the first file.
    _write_landing(landing, "24", "2024-01-06", [9.0])
    second = _drain(spark, landing, tmp_path)
    assert sorted(r.pollutant_code for r in second) == ["03", "03", "24"]
    assert _sorted_rows(second) == _sorted_rows(
        read_landing_csv(spark, str(landing)).collect()
    )


def test_stream_late_file_sorting_before_processed(spark, tmp_path):
    """A file that ARRIVES later but SORTS before already-processed names
    (the reference's re-fetch of an earlier date) must still be read
    exactly once: the source's log is keyed by file name, not position."""
    landing = tmp_path / "landing"
    # 'polluant-24_...' sorts AFTER 'polluant-03_...': process it first.
    _write_landing(landing, "24", "2024-01-06", [9.0])
    assert len(_drain(spark, landing, tmp_path)) == 1

    _write_landing(landing, "03", "2024-01-05", [1.0, 2.0])
    rows = _drain(spark, landing, tmp_path)
    assert sorted(r.pollutant_code for r in rows) == ["03", "03", "24"]
    # A third run finds nothing new.
    assert len(_drain(spark, landing, tmp_path)) == 3


def test_stream_nested_layout(spark, tmp_path):
    """The reference's ``{code}/polluant-{code}_{date}.csv`` layout: files
    in per-pollutant subdirectories are found, junk there stays
    invisible, and the streamed rows equal the batch read."""
    landing = tmp_path / "landing"
    _write_landing(landing / "24", "24", "2024-01-06", [9.0])
    _write_junk(landing)
    os.makedirs(landing / "03")
    _write_junk(landing / "03")
    assert len(_drain(spark, landing, tmp_path)) == 1

    _write_landing(landing / "03", "03", "2024-01-05", [1.0, 2.0])
    rows = _drain(spark, landing, tmp_path)
    assert sorted(r.pollutant_code for r in rows) == ["03", "03", "24"]
    assert len(_drain(spark, landing, tmp_path)) == 3
    assert _sorted_rows(rows) == _sorted_rows(
        read_landing_csv(spark, str(landing)).collect()
    )


def test_stream_late_file_with_old_mtime(spark, tmp_path):
    """A late file copied in with its old mtime (``cp -p``, ``rsync -a``,
    an object-store sync) is still new: the file-stream source's default
    ``maxFileAge`` (7 days behind the newest file seen) would skip it
    silently."""
    landing = tmp_path / "landing"
    newest = _write_landing(landing, "24", "2024-01-06", [9.0])
    assert len(_drain(spark, landing, tmp_path)) == 1

    late = _write_landing(landing, "03", "2024-01-05", [1.0, 2.0])
    old = os.path.getmtime(newest) - 30 * 86400
    os.utime(late, (old, old))
    rows = _drain(spark, landing, tmp_path)
    assert sorted(r.pollutant_code for r in rows) == ["03", "03", "24"]
    assert len(_drain(spark, landing, tmp_path)) == 3
