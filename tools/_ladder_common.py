"""Shared machinery for the decade-ladder probes.

Every family probe (documents/dedup, events/temporal, relational,
streaming, ML/embedding) measures the same way: build a 10x tiled
corpus, run each query at both decades through the noop sink, print a
BASELINE.md-format markdown table plus one JSON line (``result_line``:
the timings with the session's core count and bench.py's window stamp,
``calib_par_ratio`` and ``throttled_window``). This module holds
the one copy of that machinery; each probe supplies its family's
LADDER, decade labels, and tiled-corpus builder. (The ANN probe stays
separate — it measures recall against an exact anchor, not just wall.)

Timing protocol (the round-6 lesson): timed runs drive the noop sink,
same as bench.py — count() would let Catalyst PRUNE unused projection/
window work (a per-doc fingerprint column no one reads costs nothing
under count), silently understating exactly the per-row tiers the
probes exist to measure. The row count runs once, untimed.
"""

from __future__ import annotations

import argparse
import json
import tempfile
import time
from collections.abc import Callable

import bench

TILE = 10

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def run_one(spark, name: str, sf_dir: str, runs: int) -> tuple[float, int]:
    """Warm wall-clock (min over runs-1 after a warmup; with runs=1 the
    single cold run) + output row count. See module docstring for why
    the timed runs use the noop sink, not count()."""
    from datalakes_and_data_integration_spark.plans import QUERIES

    fn = QUERIES[name].spark
    times = []
    for i in range(runs):
        t0 = time.monotonic()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.monotonic() - t0
        if i > 0 or runs == 1:
            times.append(dt)
    rows = fn(spark, sf_dir).count()
    return min(times), rows


def result_line(
    metric: str, results: dict, cpus: int, calib_par: float
) -> dict:
    """The probe's JSON line: per-query timings stamped with the core
    count they were taken at and the capture window's throttle state,
    by the same rule as bench.py's summary (``bench.window_stamp``)."""
    return {
        "metric": metric,
        "cpus": cpus,
        **bench.window_stamp(calib_par),
        "results": results,
    }


def print_result_line(spark, metric: str, results: dict) -> None:
    """Print ``result_line`` for ``spark``'s core count and this window;
    the parallel anchor runs after the sweep, as in bench.py."""
    cpus = spark.sparkContext.defaultParallelism
    calib_par = bench._cpu_calibration_parallel()
    print(json.dumps(result_line(metric, results, cpus, calib_par)))


def probe_main(
    *,
    metric: str,
    ladder: list[str],
    base_label: str,
    tiled_label: str,
    sf_dir: str,
    build_tiled: Callable[[str, str, int], object],
    tempdir_prefix: str,
    default_runs: int = 2,
    corpus_noun: str = "rows",
    tilings: dict[str, Callable[[str, str, int], object]] | None = None,
) -> None:
    """The shared CLI + sweep + report loop.

    ``--only`` accepts ANY comma-separated registry names, ordered —
    not limited to the probe's default LADDER (so a family probe can
    ladder a sibling family's query on its own tiling, e.g. the
    multimodal and streaming_incremental_dedup runs on the documents
    tiling). ``--skip-<tiled_label>`` limits the sweep to the base
    decade.
    """
    ap = argparse.ArgumentParser()
    ap.add_argument(f"--skip-{tiled_label}", dest="skip_tiled",
                    action="store_true")
    ap.add_argument("--only", default=None,
                    help="comma-separated query subset (any registry "
                    "names, ordered; not limited to the default LADDER)")
    ap.add_argument("--runs", type=int, default=default_runs,
                    help="runs per cell (first is warmup unless runs=1)")
    if tilings:
        ap.add_argument("--tiling", default="default",
                        choices=["default", *tilings],
                        help="alternate tiled-corpus builder")
    args = ap.parse_args()
    if tilings and args.tiling != "default":
        build_tiled = tilings[args.tiling]
    if args.runs < 1:
        ap.error("--runs must be >= 1")
    names = args.only.split(",") if args.only else ladder

    from datalakes_and_data_integration_spark.session import get_spark

    spark = get_spark()

    decades = [(base_label, sf_dir)]
    if not args.skip_tiled:
        tiled = tempfile.mkdtemp(prefix=tempdir_prefix)
        n = build_tiled(sf_dir, tiled, TILE)
        print(f"# tiled corpus at {tiled}: {n} {corpus_noun}")
        decades.append((tiled_label, tiled))

    out: dict[str, dict] = {}
    for decade, d in decades:
        for name in names:
            try:
                t, rows = run_one(spark, name, d, runs=args.runs)
            except Exception as exc:  # keep the sweep going
                print(f"# {decade} {name}: ERR {exc}", flush=True)
                continue
            out.setdefault(name, {})[decade] = {
                "sec": round(t, 2), "rows": rows,
            }
            print(f"# {decade} {name}: {t:.2f}s rows={rows}", flush=True)

    print(f"\n| query | {base_label} warm s | {base_label} rows "
          f"| {tiled_label} warm s | {tiled_label} rows | time ratio |")
    print("|---|---|---|---|---|---|")
    for name in names:
        if name not in out:
            continue
        r1 = out[name].get(base_label, {})
        r10 = out[name].get(tiled_label, {})
        ratio = (
            round(r10["sec"] / r1["sec"], 1)
            if r1.get("sec") and r10.get("sec")
            else None
        )

        def cell(d, k):
            v = d.get(k)
            return "—" if v is None else v

        print(
            f"| {name} | {cell(r1, 'sec')} | {cell(r1, 'rows')} | "
            f"{cell(r10, 'sec')} | {cell(r10, 'rows')} | "
            f"{ratio if ratio is not None else '—'}x |"
        )
    print_result_line(spark, metric, out)
