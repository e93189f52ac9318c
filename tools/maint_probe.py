"""Time and job-count the streaming maintenance family (or any --only
list) with the bench methodology: noop sink, one cold pass, then warm
passes, with the Spark status tracker's job count recorded for every
(query, pass).

Usage: python tools/maint_probe.py [--only a,b] [--sf DIR] [--rounds N]
Prints one line per (query, pass), a per-query table with the job count
of every round, and a family total (sum of warm medians, jobs per round).
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

_TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_TOOLS))

DEFAULT = [
    "streaming_quantile_maintenance",
    "streaming_ccf_maintenance",
    "streaming_ab_moments_maintenance",
    "streaming_ab_msprt_maintenance",
    "streaming_heavy_hitters_cms",
    "streaming_bitmap_distinct_maintenance",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="")
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--rounds", type=int, default=4)
    args = ap.parse_args()
    names = [n for n in args.only.split(",") if n] or DEFAULT

    from datalakes_and_data_integration_spark import plans
    from datalakes_and_data_integration_spark.session import get_spark

    spark = get_spark("maint_probe")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    spark.read.parquet(os.path.join(args.sf, "events.parquet")).count()

    # name -> {"secs": [per round], "jobs": [per round]}; round 0 is cold
    results: dict[str, dict] = {n: {"secs": [], "jobs": []} for n in names}
    for rnd in range(args.rounds):
        for name in names:
            group = f"probe:{name}:{rnd}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            plans.QUERIES[name].spark(spark, args.sf).write.format(
                "noop"
            ).mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            njobs = len(tracker.getJobIdsForGroup(group) or [])
            sc.setJobGroup(None, None)
            results[name]["secs"].append(dt)
            results[name]["jobs"].append(njobs)
            print(f"pass {rnd} {name}: {dt}s jobs={njobs}", flush=True)

    def warm(r: dict) -> list[float]:
        return r["secs"][1:]

    print(f"\ncpus={os.cpu_count()} sf={args.sf} rounds={args.rounds}")
    print("| query | cold s | warm min s | warm median s | jobs per round |")
    print("|---|---|---|---|---|")
    for name, r in results.items():
        w = warm(r)
        wmin = min(w) if w else -1
        wmed = round(statistics.median(w), 3) if w else -1
        print(
            f"| {name} | {r['secs'][0]} | {wmin} | {wmed} | "
            f"{', '.join(map(str, r['jobs']))} |"
        )
    if args.rounds > 1:
        fam = sum(statistics.median(warm(r)) for r in results.values())
        per_round = [
            sum(r["jobs"][i] for r in results.values())
            for i in range(args.rounds)
        ]
        print(
            f"| family | {round(sum(r['secs'][0] for r in results.values()), 3)}"
            f" | {round(sum(min(warm(r)) for r in results.values()), 3)}"
            f" | {round(fam, 3)} | {', '.join(map(str, per_round))} |"
        )


if __name__ == "__main__":
    main()
