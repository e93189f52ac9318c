"""Medallion-pipeline decade probe (round-7 fifth session).

Seventh member of the ladder-probe family — and the first pointed at the
REFERENCE-PARITY surface rather than an extension family: the bronze ->
silver -> gold medallion pipeline (SURVEY.md §2 end-to-end), timed per
stage on a FIXTURES.md-shaped synthetic landing zone at two decades:

- base: 55 sites x 20 days x 23 hours x 4 pollutants ~= 101k CSV rows
- 10x:  550 sites, same time range ~= 1.01m CSV rows

More sites in the same time range (the events-ladder tiling philosophy):
per-site window shapes (lag-6, ffill/bfill) are preserved, per-timestamp
cardinality grows 10x, and the gold merge's (site, date) key space grows
10x. The landing zone carries the parity quirks at deterministic rates so
every pipeline branch pays its real cost: exact-duplicate rows (A1), PK
duplicates with different payloads (A2/S15), empty value cells (P3 +
mean-impute F6), the unmapped µg/m3 unit variant (F4 -> null), one
malformed date per file (typed cast null-on-error P2), and one
nonconforming filename (P8 glob filter).

Timing is per-stage wall clock INCLUDING the zone writes and read-backs —
the honest end-to-end cost a scheduled batch pays, not a noop-sink plan
time (stages materialize parquet by contract, so there is nothing for
Catalyst to prune).

Usage: python tools/pipeline_ladder_probe.py [--skip-1m] [--runs N]
Prints a markdown table (BASELINE.md format) plus one JSON line.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from _ladder_common import print_result_line  # noqa: E402

HEADER = (
    "﻿Date de début;Date de fin;Organisme;code zas;Zas;code site;"
    "nom site;type d'implantation;Polluant;type d'influence;discriminant;"
    "Réglementaire;type d'évaluation;procédure de mesure;type de valeur;"
    "valeur;valeur brute;unité de mesure;taux de saisie;"
    "couverture temporelle;couverture de données;code qualité;validité"
)

# (code, name, unit) from the catalog's active set; CO uses mg-m3.
POLLUTANTS = [
    ("01", "SO2", "µg-m3"),
    ("03", "NO2", "µg-m3"),
    ("04", "CO", "mg-m3"),
    ("08", "O3", "µg-m3"),
]
N_DAYS = 20
N_HOURS = 23  # 0..22 so end-hour never rolls past midnight
BASE_SITES = 55


def _row(site, day, hour, pollutant, value, unit):
    start = f"2025/03/{day + 1:02d} {hour:02d}:00:00"
    end = f"2025/03/{day + 1:02d} {hour + 1:02d}:00:00"
    v = "" if value is None else f"{value}"
    return (
        f"{start};{end};ATMO PROBE;FR93ZAG01;ZAG PROBE;{site};Site {site};"
        f"Urbaine;{pollutant};Fond;A;Oui;mesures fixes;Auto conf;"
        f"moyenne horaire validée;{v};{v};{unit};;;;A;1"
    )


def gen_landing(out_dir: str, n_sites: int) -> int:
    """FIXTURES-shaped landing zone: one CSV per (pollutant, day), with
    the parity quirks injected at deterministic row-counter rates."""
    total = 0
    for code, name, unit in POLLUTANTS:
        for day in range(N_DAYS):
            lines = [HEADER]
            k = 0
            for s in range(n_sites):
                site = f"FR{s:04d}"
                for h in range(N_HOURS):
                    k += 1
                    val = round(10.0 + (s * 7 + h * 3 + day) % 90, 1)
                    u = unit
                    if k % 89 == 0:
                        val = None  # empty cell -> null -> mean-impute
                    if k % 50 == 17 and unit == "µg-m3":
                        u = "µg/m3"  # unmapped variant -> null (F4)
                    lines.append(_row(site, day, h, name, val, u))
                    if k % 97 == 0:  # exact duplicate (A1)
                        lines.append(_row(site, day, h, name, val, u))
                    if k % 101 == 0:  # PK dup, different payload (A2)
                        lines.append(
                            _row(site, day, h, name, 999.9, u)
                        )
            # one malformed date per file (P2 null-on-error)
            lines.append(
                _row("FR0000", day, 0, name, 1.0, unit).replace(
                    f"2025/03/{day + 1:02d} 00:00:00", "not-a-date", 1
                )
            )
            total += len(lines) - 1
            path = os.path.join(
                out_dir, f"polluant-{code}_2025-03-{day + 1:02d}.csv"
            )
            with open(path, "w", encoding="utf-8") as f:
                f.write("\n".join(lines))
    # nonconforming filename: the landing glob must skip it (P8)
    with open(os.path.join(out_dir, "notes.csv"), "w") as f:
        f.write("junk;file")
    return total


def run_cell(spark, landing: str, label: str) -> dict:
    from datalakes_and_data_integration_spark.pipeline import (
        build_bronze,
        build_silver,
    )
    from datalakes_and_data_integration_spark.pipeline.gold import build_gold

    work = tempfile.mkdtemp(prefix=f"pipeline_probe_{label}_")
    out = {}
    t0 = time.monotonic()
    build_bronze(spark, landing, f"{work}/bronze")
    out["bronze_s"] = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    build_silver(spark, f"{work}/bronze", f"{work}/silver")
    out["silver_s"] = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    gold = build_gold(spark, f"{work}/silver", f"{work}/gold")
    out["gold_s"] = round(time.monotonic() - t0, 2)
    out["gold_rows"] = gold.count()
    out["total_s"] = round(
        out["bronze_s"] + out["silver_s"] + out["gold_s"], 2
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip-1m", action="store_true")
    args = ap.parse_args()

    from datalakes_and_data_integration_spark.session import get_spark

    spark = get_spark("pipeline_ladder_probe")

    # Warmup cell (3 sites): the gold stage is codegen-dominated (~40
    # window columns) — without this the FIRST timed cell absorbs all
    # Janino compilation and the decade ratio reads inverted.
    warm = tempfile.mkdtemp(prefix="pipeline_landing_warm_")
    gen_landing(warm, 3)
    run_cell(spark, warm, "warm")
    shutil.rmtree(warm, ignore_errors=True)

    results = {}
    for label, sites in (
        ("100k", BASE_SITES),
        *((() if args.skip_1m else (("1m", BASE_SITES * 10),))),
    ):
        landing = tempfile.mkdtemp(prefix=f"pipeline_landing_{label}_")
        n = gen_landing(landing, sites)
        print(f"# {label} landing: {n} CSV rows, {sites} sites")
        results[label] = run_cell(spark, landing, label)
        results[label]["csv_rows"] = n
        print(f"# {label}: {results[label]}")
        shutil.rmtree(landing, ignore_errors=True)

    print("\n| stage | 100k s | 1m s | ratio |")
    print("|---|---|---|---|")
    for stage in ("bronze_s", "silver_s", "gold_s", "total_s"):
        b = results["100k"][stage]
        if "1m" in results:
            t = results["1m"][stage]
            print(
                f"| {stage[:-2]} | {b} | {t} | "
                f"{round(t / max(b, 0.01), 1)}x |"
            )
        else:
            print(f"| {stage[:-2]} | {b} | — | — |")
    print()
    print_result_line(spark, "pipeline_ladder_probe", results)


if __name__ == "__main__":
    main()
