"""Run-to-run spread of the end-to-end metrics, as the acceptance check
computes it: for each metric, the distance between the first and third
quartile of one value per seed, as a share of the median.

    python3 perfbench/steadiness.py --workload analyst_mix --seeds 1-10

Each seed is one fresh ``run.py`` process, run one after another. With
``--save FILE`` the result lines are appended to FILE; ``--load FILE``
reads such lines instead of running.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_seed(workload: str, seed: int, seconds: int) -> list[str]:
    """The window line and the result line of one run."""
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=180, check=True,
    )
    return proc.stdout.strip().splitlines()[-2:]


def spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR / median) of ``values``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--save")
    ap.add_argument("--load")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.load:
        with open(args.load) as f:
            results = [json.loads(line) for line in f if '"metrics"' in line]
    else:
        results = []
        for seed in _seeds(args.seeds):
            lines = run_seed(args.workload, seed, bench["run_seconds"])
            results.append(json.loads(lines[-1]))
            if args.save:
                with open(args.save, "a") as f:
                    f.write("\n".join(lines) + "\n")
    bad = sum(not r["correct"] for r in results)
    print(f"{args.workload}: {len(results)} runs, {bad} with failed checks")
    print("| metric | median | IQR/median | bound | within bound/3 |")
    print("|---|---|---|---|---|")
    for m in bench["end_to_end"]:
        med, rel = spread([r["metrics"][m["name"]]["value"] for r in results])
        ok = "yes" if rel < m["bound"] / 3 else "NO"
        print(f"| {m['name']} | {med:.4g} {m['unit']} | {rel:.3f} | {m['bound']} | {ok} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
