"""Seeded input generators for the benchmark workloads.

Both generators are pure functions of ``(seed, out_dir, size)``: the same
seed writes byte-identical files, and the row counts depend on the size
alone, never on the seed, so every seed asks the engine for the same amount
of work and only the values and the placement of the quirks move.
"""

from __future__ import annotations

import os

import numpy as np

# ---------------------------------------------------------------------------
# medallion_refresh: a FIXTURES.md-shaped landing zone
# ---------------------------------------------------------------------------

HEADER = (
    "﻿Date de début;Date de fin;Organisme;code zas;Zas;code site;"
    "nom site;type d'implantation;Polluant;type d'influence;discriminant;"
    "Réglementaire;type d'évaluation;procédure de mesure;type de valeur;"
    "valeur;valeur brute;unité de mesure;taux de saisie;"
    "couverture temporelle;couverture de données;code qualité;validité"
)

# (code, short name, unit, share of the site pool measured). Unequal site
# sets give the gold full-outer merge its null fan-out; CO is the only
# mg-m3 pollutant, as in the catalog.
POLLUTANTS = (
    ("01", "SO2", "µg-m3", 1.0),
    ("03", "NO2", "µg-m3", 1.0),
    ("04", "CO", "mg-m3", 0.5),
    ("08", "O3", "µg-m3", 0.75),
)
N_HOURS = 23  # hours 0..22, so the end hour never rolls past midnight

# Quirk rates per file, as counts per thousand clean rows; rounded down,
# so they are fixed by the size and not by the seed.
EXACT_DUP_PER_K = 10
PK_DUP_PER_K = 10
EMPTY_VALUE_PER_K = 11
UNIT_VARIANT_PER_K = 20


def landing_sites(n_sites: int, seed: int) -> dict[str, list[str]]:
    """Site codes each pollutant measures: a seeded subset of fixed size."""
    rng = np.random.default_rng([seed, 1])
    pool = [f"FR{s:05d}" for s in range(n_sites)]
    out = {}
    for code, _name, _unit, share in POLLUTANTS:
        k = max(1, int(n_sites * share))
        pick = np.sort(rng.choice(n_sites, size=k, replace=False))
        out[code] = [pool[i] for i in pick]
    return out


def expected_counts(n_sites: int, n_days: int, seed: int = 0) -> dict[str, int]:
    """Rows the pipeline must produce from ``gen_landing``'s zone.

    Silver keeps one row per (pollutant, site, hour) plus, per pollutant,
    the single row its malformed dates collapse into (the PK dedup keys on
    a NULL date). Gold keeps one row per (site, hour) over the union of the
    site sets, plus one row per distinct site carrying a malformed date:
    the full outer merge matches keys null-safely, as pandas ``merge`` does.
    """
    sites = landing_sites(n_sites, seed)
    slots = n_days * N_HOURS
    silver = sum(len(s) * slots + 1 for s in sites.values())
    union = set().union(*sites.values())
    undated = {s[0] for s in sites.values()}
    gold = len(union) * slots + len(undated)
    return {"silver_rows": silver, "gold_rows": gold, "gold_undated": len(undated)}


def _row(site, day, hour, pollutant, value, raw, unit, start=None):
    start = start or f"2025/03/{day + 1:02d} {hour:02d}:00:00"
    end = f"2025/03/{day + 1:02d} {hour + 1:02d}:00:00"
    if value is None:
        v = vb = ""
        quality, valid = "N", "-1"
    else:
        v, vb = f"{value}", f"{raw}"
        quality, valid = "A", "1"
    return (
        f"{start};{end};ATMO BENCH;FR93ZAG01;ZAG BENCH;{site};Site {site};"
        f"Urbaine;{pollutant};Fond;A;Oui;mesures fixes;Auto conf;"
        f"moyenne horaire validée;{v};{vb};{unit};;;;{quality};{valid}"
    )


def _pick(rng, n: int, per_k: int) -> set[int]:
    """``n * per_k // 1000`` distinct row indices below ``n``."""
    return set(rng.choice(n, n * per_k // 1000, replace=False).tolist())


def gen_landing(out_dir: str, n_sites: int, n_days: int, seed: int) -> int:
    """Write one CSV per (pollutant, day) plus one nonconforming file.

    Every file carries: exact duplicate rows, primary-key duplicates with
    a different payload, empty value cells, the unmapped ``µg/m3`` unit
    variant (µg-m3 pollutants only), hour-0 dates without a time part and
    one malformed date. Returns the number of CSV data rows written.
    """
    os.makedirs(out_dir, exist_ok=True)
    sites = landing_sites(n_sites, seed)
    rng = np.random.default_rng([seed, 2])
    total = 0
    for code, name, unit, _share in POLLUTANTS:
        site_list = sites[code]
        n = len(site_list) * N_HOURS
        for day in range(n_days):
            vals = np.round(rng.uniform(-1.0, 120.0, n), 1)
            raws = np.round(vals + rng.uniform(-0.5, 0.5, n), 5)
            empty = _pick(rng, n, EMPTY_VALUE_PER_K)
            variant = _pick(rng, n, UNIT_VARIANT_PER_K) if unit == "µg-m3" else set()
            exact = _pick(rng, n, EXACT_DUP_PER_K)
            pk = _pick(rng, n, PK_DUP_PER_K)
            lines = [HEADER]
            for i in range(n):
                site, hour = site_list[i // N_HOURS], i % N_HOURS
                value = None if i in empty else float(vals[i])
                u = "µg/m3" if i in variant else unit
                start = f"2025/03/{day + 1:02d}" if hour == 0 else None
                line = _row(site, day, hour, name, value, raws[i], u, start)
                lines.append(line)
                if i in exact:
                    lines.append(line)
                if i in pk:
                    lines.append(_row(site, day, hour, name, 999.9, 999.9, u, start))
            lines.append(
                _row(site_list[0], day, 0, name, 1.0, 1.0, unit, "not-a-date")
            )
            total += len(lines) - 1
            path = os.path.join(out_dir, f"polluant-{code}_2025-03-{day + 1:02d}.csv")
            with open(path, "w", encoding="utf-8") as f:
                f.write("\n".join(lines) + "\n")
    with open(os.path.join(out_dir, "notes.csv"), "w", encoding="utf-8") as f:
        f.write("junk;file\n")
    return total


# ---------------------------------------------------------------------------
# analyst_mix: TPC-H-shaped star schema plus the events stream
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "green", "red", "small", "black", "white", "gold", "navy"]
NOUNS = ["anvil", "bolt", "gear", "ring", "widget", "spring", "nut", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (TESTDATA.md's ratios)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the eight parquet tables the analyst queries read.

    Value domains follow the repo's test tables: the same region names,
    segments, priorities, flag letters, date ranges and 2-decimal money.
    Returns the row count per table.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    n = table_sizes(sf)

    def pick(choices, size):
        return pa.array(np.asarray(choices)[rng.integers(0, len(choices), size)])

    def days(start, span, size):
        base = np.datetime64(start, "D")
        return (base + rng.integers(0, span, size)).astype("datetime64[us]")

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(rng.integers(0, 5, 25).astype(np.int32)),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
            "c_mktsegment": pick(SEGMENTS, n["customer"]),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
            "p_name": pick([f"{c} {w}" for c in COLORS for w in NOUNS], n["part"]),
            "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n["part"]),
            "p_type": pick(PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (np.arange(n["part"]) % 1000) / 10.0),
        },
    }
    odate = days("1995-01-01", 2404, n["orders"])
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"])),
        "o_orderstatus": pick(["F", "O", "P"], n["orders"]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n["orders"])),
        "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
        "o_orderpriority": pick(PRIORITIES, n["orders"]),
    }
    lo = rng.integers(0, n["orders"], n["lineitem"])
    qty = rng.integers(1, 51, n["lineitem"]).astype(np.float64)
    ship = odate[lo] + rng.integers(1, 122, n["lineitem"]).astype("timedelta64[D]")
    tables["lineitem"] = {
        "l_orderkey": pa.array(lo),
        "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"])),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"])),
        "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n["lineitem"]), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n["lineitem"]),
        "l_linestatus": pick(["F", "O"], n["lineitem"]),
        "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
    }
    n_ev = n["events"]
    n_users = max(10, n_ev * 3 // 200)
    month_us = 30 * 86_400 * 1_000_000
    ts = np.datetime64("2024-01-01", "us") + rng.integers(0, month_us, n_ev).astype(
        "timedelta64[us]"
    )
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": pa.array(_money(rng, 0.01, 490.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return n
