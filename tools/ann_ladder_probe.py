"""ANN ladder scale probe (VERDICT r3 "next round" #5).

Measures warm wall-clock AND recall@5 for every ANN strategy in the
registry at two corpus decades:

- sf0.1 as-is: 2,000 vectors (4M candidate pairs)
- a 10x deterministically tiled copy: 20,000 vectors (400M pairs)

so the recall-vs-time tradeoff at the next decade is MEASURED, not
asserted (the earlier BASELINE.md 20k probe timed only hybrid/LSH and
measured no recall). The tiled corpus perturbs each copy with small
deterministic Gaussian noise (sigma = 2% of the per-dim std, seeded per
copy), preserving the label/cluster structure the bucketed strategies
exploit while keeping every vector distinct.

Ground truth per decade is an EXACT strategy: ann_topk_bruteforce at 2k
(pure-expression O(n^2) — fine at 4M pairs), ann_topk_bruteforce_hybrid
at 20k (numpy-blocked, still exact, 400M pairs in ~10 s; the expression
form would take minutes). recall@5 = |top5 ∩ exact top5| / |exact top5|.

Usage: python tools/ann_ladder_probe.py [--skip-20k]
Prints a markdown table (BASELINE.md format) plus one JSON line.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from _ladder_common import print_result_line  # noqa: E402

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TILE = 10

# (registry name, is_exact). The first exact entry per decade is truth.
LADDER = [
    ("ann_topk_bruteforce", True),
    ("ann_topk_bruteforce_hybrid", True),
    ("ann_topk_lsh_bucketed", False),
    ("ann_topk_lsh_multiprobe", False),
    ("ann_topk_ivf", False),
    ("ann_topk_pq", False),
    ("ann_topk_ivfadc", False),
    ("ann_topk_ivfadc_residual", False),
    # round 8: the graph family's end-to-end cell (sub-quadratic
    # projection-window + NN-descent build, then beam search)
    ("ann_topk_graph_search", False),
]


def build_tiled_corpus(src_dir: str, out_dir: str, tile: int) -> int:
    """Write a tile-x embeddings.parquet: copy c keeps labels, offsets
    vec_id by c*n, and adds seeded Gaussian noise (2% of per-dim std)."""
    t = pq.read_table(os.path.join(src_dir, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    labels = t.column("label").to_numpy()
    emb = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    n, d = emb.shape
    sigma = 0.02 * emb.std(axis=0)
    parts = []
    for c in range(tile):
        rng = np.random.default_rng(1_000 + c)
        e = emb if c == 0 else (
            emb + rng.normal(0.0, sigma, size=(n, d)).astype(np.float32)
        )
        parts.append(
            pa.table(
                {
                    "vec_id": pa.array(ids + c * n, pa.int64()),
                    "embedding": pa.array(
                        list(e), pa.list_(pa.float32())
                    ),
                    "label": pa.array(labels, pa.int32()),
                }
            )
        )
    pq.write_table(pa.concat_tables(parts),
                   os.path.join(out_dir, "embeddings.parquet"))
    return n * tile


def run_one(spark, name: str, sf_dir: str, runs: int = 3) -> tuple[float, set]:
    """Warm wall-clock (min of runs-1 after 1 warmup; with runs=1 the
    single cold run) + result pair set."""
    from datalakes_and_data_integration_spark.plans import QUERIES

    fn = QUERIES[name].spark
    pairs = None
    times = []
    for i in range(runs):
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        # Strategies name the pair (vec_id, neighbor_id) or (q_id, n_id).
        qc, nc = (
            ("vec_id", "neighbor_id")
            if "vec_id" in df.columns
            else ("q_id", "n_id")
        )
        rows = df.select(qc, nc).collect()
        dt = time.monotonic() - t0
        if i > 0 or runs == 1:
            times.append(dt)
        pairs = {(r[0], r[1]) for r in rows}
    return min(times), pairs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip-20k", action="store_true")
    ap.add_argument("--skip-bruteforce-20k", action="store_true",
                    default=True, help="expression brute force at 400M "
                    "pairs extrapolates to >3 min; hybrid is the exact "
                    "truth there (on by default)")
    ap.add_argument("--only", default=None,
                    help="comma-separated strategy subset (the first "
                    "exact one listed still anchors recall)")
    ap.add_argument("--runs", type=int, default=3,
                    help="runs per cell (first is warmup unless runs=1)")
    args = ap.parse_args()
    if args.runs < 1:
        ap.error("--runs must be >= 1")
    only = set(args.only.split(",")) if args.only else None

    from datalakes_and_data_integration_spark.session import get_spark

    spark = get_spark()

    decades = [("2k", SF_DIR)]
    if not args.skip_20k:
        tiled = tempfile.mkdtemp(prefix="ann_probe_20k_")
        n = build_tiled_corpus(SF_DIR, tiled, TILE)
        print(f"# tiled corpus: {n} vectors at {tiled}")
        decades.append(("20k", tiled))

    out: dict[str, dict] = {}
    for decade, d in decades:
        truth: set | None = None
        for name, exact in LADDER:
            if (decade == "20k" and name == "ann_topk_bruteforce"
                    and args.skip_bruteforce_20k):
                continue
            if only is not None and name not in only:
                continue
            try:
                t, pairs = run_one(spark, name, d, runs=args.runs)
            except Exception as exc:  # keep the sweep going
                print(f"# {decade} {name}: ERR {exc}", flush=True)
                continue
            if truth is None and exact:
                truth = pairs  # first exact strategy anchors recall
            # No exact anchor (e.g. --only approximate-only, or the
            # exact strategy hit the ERR path): recall is unknown, not
            # 1.0 — report None / '—'.
            recall = (
                round(len(pairs & truth) / len(truth), 4) if truth else None
            )
            out.setdefault(name, {})[decade] = {
                "sec": round(t, 2), "recall_at_5": recall,
            }
            rtxt = f"{recall:.4f}" if recall is not None else "—"
            print(f"# {decade} {name}: {t:.2f}s recall@5={rtxt}",
                  flush=True)

    print("\n| strategy | 2k warm s | 2k recall@5 | 20k warm s "
          "| 20k recall@5 |")
    print("|---|---|---|---|---|")
    for name, _ in LADDER:
        if name not in out:
            continue
        r2 = out[name].get("2k", {})
        r20 = out[name].get("20k", {})

        def cell(d, k):
            v = d.get(k)
            return "—" if v is None else v

        print(
            f"| {name} | {cell(r2, 'sec')} | "
            f"{cell(r2, 'recall_at_5')} | {cell(r20, 'sec')} | "
            f"{cell(r20, 'recall_at_5')} |"
        )
    print_result_line(spark, "ann_ladder_probe", out)


if __name__ == "__main__":
    main()
