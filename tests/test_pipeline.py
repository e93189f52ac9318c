"""End-to-end medallion pipeline test on FIXTURES.md-shaped CSVs.

Generates a small landing zone with every quirk the reference's behavior
depends on (FIXTURES.md §1 'quirks to generate'), runs bronze -> silver ->
gold, and asserts the observable semantics."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.pipeline import (
    build_bronze,
    build_silver,
)
from datalakes_and_data_integration_spark.pipeline.gold import build_gold

HEADER = (
    "﻿Date de début;Date de fin;Organisme;code zas;Zas;code site;"
    "nom site;type d'implantation;Polluant;type d'influence;discriminant;"
    "Réglementaire;type d'évaluation;procédure de mesure;type de valeur;"
    "valeur;valeur brute;unité de mesure;taux de saisie;"
    "couverture temporelle;couverture de données;code qualité;validité"
)


def _row(site, hour, pollutant, value, unit, date="2025/03/07", raw=None):
    start = f"{date} {hour:02d}:00:00"
    end = f"{date} {hour + 1:02d}:00:00"
    raw = value if raw is None else raw
    v = "" if value is None else str(value)
    rv = "" if raw is None else str(raw)
    return (
        f"{start};{end};ATMO TEST;FR93ZAG01;ZAG TEST;{site};Site {site};"
        f"Urbaine;{pollutant};Fond;A;Oui;mesures fixes;Auto conf;"
        f"moyenne horaire validée;{v};{rv};{unit};;;;A;1"
    )


@pytest.fixture(scope="module")
def zones(spark, tmp_path_factory):
    landing = tmp_path_factory.mktemp("landing")
    work = tmp_path_factory.mktemp("zones")

    # SO2 (code 01): 14 hourly rows for 2 sites -> lag-6 has real values.
    so2 = [HEADER]
    for site in ("FR001", "FR002"):
        for h in range(14):
            so2.append(_row(site, h, "SO2", float(10 * (h + 1)), "µg-m3"))
    # quirk: exact duplicate row (full-row dedup A1)
    so2.append(_row("FR001", 0, "SO2", 10.0, "µg-m3"))
    # quirk: PK duplicate with different payload (first-writer dedup A2)
    so2.append(_row("FR001", 1, "SO2", 999.0, "µg-m3"))
    # quirk: empty value cells (empty-string -> null, then mean-impute)
    so2.append(_row("FR001", 14, "SO2", None, "µg-m3", raw=None))
    # quirk: all-blank row (P3 filter)
    so2.append(";" * 22)
    # quirk: malformed date -> null timestamp
    so2.append(_row("FR002", 14, "SO2", 150.0, "µg-m3").replace(
        "2025/03/07 14:00:00", "not-a-date", 1
    ))
    (landing / "polluant-01_2025-03-07.csv").write_text(
        "\n".join(so2), encoding="utf-8"
    )

    # NO2 (code 03): 8 rows, one site shared with SO2, one unique; includes
    # the unmapped µg/m3 unit variant (conversion -> null, F4) and a
    # date-only timestamp (format fallback F2).
    no2 = [HEADER]
    for h in range(8):
        unit = "µg/m3" if h == 3 else "µg-m3"
        no2.append(_row("FR001", h, "NO2", float(20 + h), unit))
    no2.append(_row("FR003", 0, "NO2", 40.0, "µg-m3").replace(
        "2025/03/07 00:00:00", "2025/03/08", 1
    ))
    (landing / "polluant-03_2025-03-07.csv").write_text(
        "\n".join(no2), encoding="utf-8"
    )

    # a nonconforming filename: must be ignored by the landing glob (P8)
    (landing / "notes.csv").write_text("junk;file", encoding="utf-8")

    build_bronze(spark, str(landing), f"{work}/bronze")
    silver = build_silver(spark, f"{work}/bronze", f"{work}/silver")
    gold = build_gold(spark, f"{work}/silver", f"{work}/gold")
    return {"silver": silver, "gold": gold, "work": str(work)}


def test_silver_dedup_and_typing(zones):
    silver = zones["silver"]
    so2 = silver.filter(silver.pollutant_code == "01")
    # 2 sites x 14 rows + imputable row + malformed-date row; the full-row
    # dup and the PK dup are gone; the all-blank row is gone.
    assert so2.count() == 30
    first = (
        so2.filter("code_site = 'FR001'")
        .orderBy("date_de_debut")
        .limit(2)
        .collect()
    )
    # first-writer won: hour-1 value is 20.0, not the 999.0 PK dup
    assert [r.valeur for r in first] == [10.0, 20.0]
    # typed: timestamps parsed, doubles cast
    assert str(first[0].date_de_debut) == "2025-03-07 00:00:00"


def test_silver_null_on_error(zones):
    silver = zones["silver"]
    bad = silver.filter("valeur = 150.0").collect()
    assert len(bad) == 1 and bad[0].date_de_debut is None
    no2 = silver.filter("pollutant_code = '03' AND code_site = 'FR003'").collect()
    assert str(no2[0].date_de_debut) == "2025-03-08 00:00:00"  # date-only parse


def test_gold_shape_and_unit_conversion(zones):
    gold = zones["gold"]
    cols = set(gold.columns)
    assert {"code_site", "date_de_debut", "so2_valeur", "no2_valeur",
            "so2_valeur_g_par_L", "total_valeur_particule_g_par_L",
            "so2_valeur_diff_6hrs",
            "so2_valeur_percent_change_6hrs"} <= cols
    # mapped unit converts; outer-join fan-out kept all sites
    row = gold.filter("code_site = 'FR001'").orderBy("date_de_debut").collect()
    assert math.isclose(row[0].so2_valeur_g_par_L, 10.0 * 1e-6)
    # unmapped µg/m3 at hour 3 -> null converted value (F4 quirk)
    assert row[3].no2_valeur_g_par_L is None
    # but the total skips the null instead of nulling out (A4)
    assert row[3].total_valeur_particule_g_par_L is not None


def test_gold_lag_semantics(zones):
    gold = zones["gold"]
    rows = (
        gold.filter("code_site = 'FR002'")
        .orderBy(F.col("date_de_debut").asc_nulls_last())
        .collect()
    )
    # W1: first 6 rows diff against themselves -> 0; then 60 (value step 10*6)
    diffs = [r.so2_valeur_diff_6hrs for r in rows[:8]]
    assert diffs[:6] == [0.0] * 6
    assert diffs[6] == 60.0
    # W2: first 6 pct-changes null, then (70-10)/10*100
    pcts = [r.so2_valeur_percent_change_6hrs for r in rows[:8]]
    assert all(p is None for p in pcts[:6])
    assert math.isclose(pcts[6], 600.0)


def test_gold_impute_before_convert(zones):
    gold = zones["gold"]
    # The imputed SO2 value at FR001 hour 14 was filled with the RAW-unit
    # mean (reference ordering: impute THEN convert), so its g_par_L equals
    # mean * 1e-6 — observable only if imputation preceded conversion.
    rows = gold.filter("code_site = 'FR001'").orderBy("date_de_debut").collect()
    imputed = rows[14]
    assert imputed.so2_valeur is not None  # was empty in the CSV
    assert math.isclose(
        imputed.so2_valeur_g_par_L, imputed.so2_valeur * 1e-6, rel_tol=1e-12
    )


def test_silver_incremental_idempotent(spark, tmp_path):
    """Re-ingesting an overlapping window must not duplicate or update rows
    (the reference's LWT idempotency, SURVEY.md §2.8). Each run's landing
    zone holds only the files still in the re-fetch window, so day 1 must
    survive in silver from its own MERGE; an undated row is a key like any
    other, so its re-fetch is dropped too and gold holds one undated row
    per site."""
    landing = tmp_path / "landing"
    landing.mkdir()
    dated, undated = "date_de_debut IS NOT NULL", "date_de_debut IS NULL"

    def bad_date(value):
        return _row("FR001", 20, "SO2", value, "µg-m3").replace(
            "2025/03/07 20:00:00", "not-a-date", 1
        )

    day1 = [HEADER] + [_row("FR001", h, "SO2", float(h + 1), "µg-m3") for h in range(4)]
    (landing / "polluant-01_2025-03-07.csv").write_text(
        "\n".join(day1 + [bad_date(55.0)]), encoding="utf-8"
    )
    work = tmp_path / "zones"
    build_bronze(spark, str(landing), f"{work}/bronze")
    s1 = build_silver(spark, f"{work}/bronze", f"{work}/silver")
    assert s1.filter(dated).count() == 4
    assert s1.filter(undated).count() == 1

    # Day 2 re-fetches day 1 (values CHANGED upstream -> must be dropped,
    # first-writer-wins) plus new day-2 rows; day 1's own file has left
    # the landing window.
    (landing / "polluant-01_2025-03-07.csv").unlink()
    day1_again = [HEADER] + [
        _row("FR001", h, "SO2", 999.0, "µg-m3") for h in range(4)
    ]
    day2 = [_row("FR001", h, "SO2", float(100 + h), "µg-m3", date="2025/03/08")
            for h in range(3)]
    (landing / "polluant-01_2025-03-08.csv").write_text(
        "\n".join(day1_again + day2 + [bad_date(999.0)]), encoding="utf-8"
    )
    build_bronze(spark, str(landing), f"{work}/bronze")
    s2 = build_silver(spark, f"{work}/bronze", f"{work}/silver")
    # 4 original + 3 new; the 4 re-fetched dropped
    assert s2.filter(dated).count() == 7
    vals = {
        (str(r.date_de_debut), r.valeur)
        for r in s2.filter("code_site = 'FR001'").collect()
    }
    assert ("2025-03-07 00:00:00", 1.0) in vals  # first write kept
    assert not any(v == 999.0 for _, v in vals)  # clobber attempt dropped
    assert ("2025-03-08 02:00:00", 102.0) in vals  # new day landed
    assert ("None", 55.0) in vals  # the undated first write kept
    assert s2.filter(undated).count() == 1

    gold = build_gold(spark, f"{work}/silver", f"{work}/gold")
    per_site = gold.filter(undated).groupBy("code_site").count().collect()
    assert [(r.code_site, r["count"]) for r in per_site] == [("FR001", 1)]
    assert gold.count() == 8


def test_orchestration_tasks_run_pipeline(spark, tmp_path):
    """The Airflow-shaped task callables run the three stages in order
    (build_dag itself returns None here — airflow is not installed)."""
    from datalakes_and_data_integration_spark import orchestration

    assert orchestration.build_dag("x", "y") is None  # import-gated

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = [HEADER] + [
        _row("FR001", h, "SO2", float(h + 1), "µg-m3") for h in range(3)
    ]
    (landing / "polluant-01_2025-03-07.csv").write_text(
        "\n".join(rows), encoding="utf-8"
    )
    work = str(tmp_path / "zones")
    orchestration.task_preprocess(str(landing), work)
    orchestration.task_process(work)
    gold = spark.read.parquet(f"{work}/gold")
    assert gold.count() == 3 and "so2_valeur_diff_6hrs" in gold.columns


def test_empty_landing_zone_is_graceful(spark, tmp_path):
    """An empty (or all-nonconforming) landing dir must yield empty zones,
    not an exception — a daily run with no new files is normal."""
    landing = tmp_path / "empty_landing"
    landing.mkdir()
    (landing / "not-matching.txt").write_text("junk")
    work = tmp_path / "zones"
    bronze = build_bronze(spark, str(landing), f"{work}/bronze")
    assert bronze.count() == 0
    silver = build_silver(spark, f"{work}/bronze", f"{work}/silver")
    assert silver.count() == 0
    # The next empty day MERGEs into a silver that holds only _SUCCESS.
    silver = build_silver(spark, f"{work}/bronze", f"{work}/silver")
    assert silver.count() == 0


def test_gold_deterministic_under_repartitioned_silver(zones, spark, tmp_path):
    """Gold must not depend on silver's file layout (VERDICT r7 watch 3c):
    rewriting every silver table with a different partition count and
    rebuilding gold must produce value-identical output. It holds
    because the key is unique — silver's MERGE and gold's outer merge
    both match NULL-safe — so the fill and lag window order
    (code_site; date_de_debut) is total and no row order is left to the
    layout."""
    import os

    from datalakes_and_data_integration_spark.sources.catalog import (
        list_tables,
    )

    src = os.path.join(zones["work"], "silver")
    reparted = str(tmp_path / "silver_reparted")
    for t in list_tables(src):
        spark.read.parquet(f"{src}/{t}").repartition(7).write.mode(
            "overwrite"
        ).parquet(f"{reparted}/{t}")
    g2 = build_gold(spark, reparted, str(tmp_path / "gold2"))
    gold = zones["gold"]
    cols = sorted(gold.columns)
    assert sorted(g2.columns) == cols
    a = sorted(map(repr, gold.select(*cols).collect()))
    b = sorted(map(repr, g2.select(*cols).collect()))
    assert a == b
