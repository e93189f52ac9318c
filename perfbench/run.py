"""Lakehouse benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload medallion_refresh --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the seed,
starts the session, does one cold pass, a fixed number of untimed warm-up
passes, then a fixed number of timed passes, and more only while their
wall times add up to less than ``--seconds``. It checks the
outputs, and prints as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
line before it describes the host window. ``--trace 1`` also writes every
span to ``.perfbench_traces/``.

All scratch space (inputs, zones, ``spark.local.dir``, state dirs) lives in
one per-run directory under ``.perfbench_run/``, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "datalakes_and_data_integration_spark"

# Untimed warm-up passes after the cold pass, the same for every workload.
# The per-pass JIT trace in README.md shows HotSpot still compiling for
# ten passes; one warm-up is what the run-time budget affords, and it
# takes the largest step (JIT time per pass falls 2-3x from the cold pass).
WARMUP_PASSES = 1
# Timed passes per run, fixed so that every commit times the same pass
# indices on the JIT slope. --seconds is only a floor on their summed wall
# time, which these counts exceed on the benchmark's inputs. Traced runs
# time four passes, without, with, with and without layer counters, so a
# linear drift from the JIT cancels in the overhead estimate.
TIMED_PASSES = 2
TIMED_PASSES_TRACED = 4


@dataclass
class Pass:
    kind: str  # "cold", "warmup" or "timed"
    span: object  # spans.Span around the whole pass
    cpu_s: float  # CPU-seconds of the process tree during the pass
    ops: dict[str, float]  # operation -> wall seconds
    ok: bool = True  # False if a call raised, which cut the pass short
    jit_cpu_s: float = 0.0  # of cpu_s, spent in HotSpot compiler threads
    jvm: dict[str, float] = field(default_factory=dict)  # counter deltas
    exec: dict[str, float] = field(default_factory=dict)  # traced runs only
    cache: dict[str, float] = field(default_factory=dict)


def _uptime() -> float:
    with open("/proc/uptime") as f:
        return float(f.read().split()[0])


def _process_age() -> float:
    """Seconds since this process started, from the kernel's record."""
    with open("/proc/self/stat", "rb") as f:
        start_ticks = int(f.read().rsplit(b")", 1)[1].split()[19])
    return _uptime() - start_ticks / os.sysconf("SC_CLK_TCK")


def _isolate(run_dir: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``run_dir``; the JVM inherits the environment when it launches."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir
    # says; -XX:-UsePerfData turns that file off, so the run writes only
    # inside its own directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until both have exited."""
    from pyspark import SparkContext

    import probes

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF from its parent
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while len(probes.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in probes.tree_pids()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _quantile(xs, q):
    """Nearest-rank quantile of a non-empty sample."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def run(args, run_dir: str, out: dict) -> dict:
    """Do the run; fills ``out`` with results as they are measured so the
    caller can stop the JVM whatever happens."""
    import probes
    import spans
    import workloads

    wl = workloads.WORKLOADS[args.workload](os.path.join(run_dir, "data"), args.seed)
    wl.setup()

    from datalakes_and_data_integration_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench_{args.workload}")
    out["spark"] = spark
    session_start = time.perf_counter() - t0
    setup_cpu_s = probes.tree_cpu_s()
    setup_wall_s = _process_age()
    jvm = probes.JvmCounters(spark)
    tracer = spans.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", jvm.read)

    window0 = {"ticks": probes.cpu_ticks(), "load": probes.loadavg()}
    attempted = failed = 0
    errors: list[str] = []
    passes: list[Pass] = []
    measured = 0.0  # wall seconds of timed passes so far
    n_timed = pass_no = 0
    n_fixed = TIMED_PASSES_TRACED if args.trace else TIMED_PASSES
    while True:
        kind = "cold" if pass_no == 0 else "warmup" if pass_no <= WARMUP_PASSES else "timed"
        if kind == "timed" and n_timed >= n_fixed and measured >= args.seconds:
            break
        tracer.counting = bool(args.trace) and (kind != "timed" or n_timed % 4 in (1, 2))
        # Pass-boundary reads sit outside the pass span, so every run
        # records the per-pass JIT trace without timing its own reads.
        jvm0 = jvm.read()
        jit0 = probes.jit_thread_ticks()
        cpu0 = probes.tree_cpu_s()
        errs = []
        try:
            with tracer.span(f"pass.{kind}") as sp:
                durs = wl.run_pass(spark, tracer, pass_no, check=kind == "warmup")
            ok = True
        except Exception as exc:  # a failed pass counts, and the run goes on
            durs, ok = {}, False
            errs.append(f"pass {pass_no}: {type(exc).__name__}: {exc}")
        cpu = probes.tree_cpu_s() - cpu0
        jit_cpu = probes.jit_cpu_s(jit0, probes.jit_thread_ticks())
        jvm1 = jvm.read()
        deltas = {k: jvm1[k] - jvm0[k] for k in jvm1}
        if not errs:
            try:
                errs += wl.check(spark)
            except Exception as exc:
                errs.append(f"check of pass {pass_no}: {type(exc).__name__}: {exc}")
        attempted += wl.ops_per_pass
        failed += len(errs)
        errors += errs
        stats = jvm.exec_stats(int(jvm0["jobs"]), int(jvm1["jobs"])) if args.trace else {}
        cache = jvm.cache_left()
        if args.trace and kind == "timed" and ok:
            out.setdefault("zones", wl.zone_stats())
        spark.catalog.clearCache()
        wl.end_pass()
        passes.append(Pass(kind, sp, cpu, durs, ok, jit_cpu, deltas, stats, cache))
        if kind == "timed":
            measured += sp.dur
            n_timed += 1
        pass_no += 1

    window1 = {"ticks": probes.cpu_ticks(), "load": probes.loadavg()}
    peak_rss = probes.tree_peak_rss_mb(exclude=os.getpid())
    final = jvm.read()

    result = _end_to_end(setup_cpu_s, passes)
    out.update(
        attempted=attempted,
        failed=failed,
        errors=errors,
        e2e=result,
        window={
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "steal_ticks": window1["ticks"]["steal"] - window0["ticks"]["steal"],
            "total_ticks": window1["ticks"]["total"] - window0["ticks"]["total"],
            "loadavg_start": window0["load"],
            "loadavg_end": window1["load"],
            "calib_s": probes.calibrate(),
            "passes": [
                {"kind": p.kind, "wall_s": p.span.dur, "cpu_s": p.cpu_s,
                 "jit_cpu_s": p.jit_cpu_s, **p.jvm}
                for p in passes
            ],
            "op_samples": sum(len(p.ops) for p in passes if p.kind == "timed"),
            "run_s": _process_age(),
        },
    )
    if args.trace:
        out["layers"] = _layer_metrics(
            tracer, passes, setup_wall_s, session_start, final, peak_rss, run_dir,
            out.get("zones", {}),
        )
        out["tracer"] = tracer
    return out


def _timed(passes: list[Pass]) -> list[Pass]:
    """The timed passes that ran to the end; one that raised is already
    counted in ``failed`` and would read cheap."""
    return [p for p in passes if p.kind == "timed" and p.ok]


def _end_to_end(setup_cpu_s: float, passes: list[Pass]) -> dict:
    cold = passes[0]
    timed = _timed(passes)
    return {
        "setup_s": setup_cpu_s,
        "cold_cpu_s": cold.cpu_s,
        "warm_cpu_s": _median([p.cpu_s for p in timed]),
    }


def _layer_metrics(tracer, passes, setup_wall_s, session_start, final, peak_rss, run_dir, zones):
    import spans
    import workloads

    timed = _timed(passes)
    counted = [p for p in timed if p.span.counters]
    plain = [p for p in timed if not p.span.counters]
    cold = passes[0]

    def med(fn, ps=counted):
        return _median([fn(p) for p in ps])

    def child_sum(p, prefix, key=None):
        kids = [k for k in tracer.children(p.span) if k.name.startswith(prefix)]
        if key is None:
            return sum(k.dur for k in kids)
        return sum(k.counters.get(key, 0.0) for k in kids)

    op_lat = [d for p in timed for d in p.ops.values()]
    # Wall times are per-layer: steal from other tenants of the host moves
    # them far more than the CPU-seconds (README.md, "Steadiness").
    m = {
        "cold_s": cold.span.dur,
        "warm_s": med(lambda p: p.span.dur, timed),
        "setup_wall_s": setup_wall_s,
        "session.start_s": session_start,
        "op.p50_s": _median(op_lat),
        "op.p90_s": _quantile(op_lat, 0.9) if op_lat else 0.0,
        "mem.peak_rss_mb": peak_rss,
        "jvm.jit_cpu_s": med(lambda p: p.jit_cpu_s, timed),
    }
    for stage in ("bronze", "silver", "gold"):
        name = f"pipeline.{stage}"
        m[f"{name}.wall_s"] = med(lambda p: p.ops.get(name, 0.0), timed)
        for k in ("bytes_out", "files_out"):
            m[f"{name}.{k}"] = zones.get(f"{name}.{k}", 0.0)
    m["pipeline.silver.keep_ratio"] = zones.get("pipeline.silver.keep_ratio", 0.0)
    for k in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes"):
        m[f"exec.{k}"] = med(lambda p: p.exec.get(k, 0.0))
    m["plans.build_s"] = med(lambda p: child_sum(p, "plans."), timed)
    m["plans.exec_s"] = med(lambda p: child_sum(p, "exec."), timed)
    maint = {q for q, fam in workloads.ANALYST_QUERIES.items() if fam == "maintenance"}
    m["streaming.maint_s"] = med(
        lambda p: sum(d for q, d in p.ops.items() if q in maint), timed
    )
    # PySpark analyzes each DataFrame as it is built, so rule time inside
    # the builders is analysis; inside the write it is optimization,
    # including AQE's re-optimization between stages.
    m["catalyst.analysis_ms"] = med(
        lambda p: child_sum(p, ("plans.", "streaming."), "rules_ms")
    )
    m["catalyst.optimization_ms"] = med(lambda p: child_sum(p, "exec.", "rules_ms"))
    m["catalyst.rules_ms"] = med(lambda p: p.jvm["rules_ms"], timed)
    for q in sorted(workloads.ANALYST_QUERIES):
        m[f"q.{q}.cold_s"] = cold.ops.get(q, 0.0)
        m[f"q.{q}.warm_s"] = med(lambda p: p.ops.get(q, 0.0), timed)
    m["jvm.jit_ms"] = med(lambda p: p.jvm["jit_ms"], timed)
    m["jvm.jit_ms.cold"] = cold.jvm["jit_ms"]
    m["jvm.jit_ms.warmup"] = sum(p.jvm["jit_ms"] for p in passes if p.kind == "warmup")
    m["jvm.gc_ms"] = med(lambda p: p.jvm["gc_ms"], timed)
    m["jvm.code_cache_mb"] = final["code_cache_mb"]
    m["codegen.compiles"] = cold.jvm["codegen_compiles"]
    m["codegen.compile_ms"] = cold.jvm["codegen_ms"]
    m["codegen.warm_compiles"] = med(lambda p: p.jvm["codegen_compiles"], timed)
    m["cache.rdds_left"] = max(p.cache["rdds"] for p in passes)
    m["cache.bytes_left"] = max(p.cache["bytes"] for p in passes)
    m["scratch.bytes_left"] = float(
        sum(workloads.dir_size(os.path.join(run_dir, d))[0] for d in ("tmp", "local"))
    )
    # Self time per layer in a counted timed pass; "pass" is the part of
    # the pass that no layer span covers (counter reads, Python glue).
    for layer in ("pipeline", "plans", "streaming", "exec", "pass"):
        m[f"self.{layer}_s"] = med(
            lambda p: spans.layer_self_time([p.span, *tracer.children(p.span)]).get(
                layer, 0.0
            )
        )
    m["trace.cover_ratio"] = med(
        lambda p: sum(k.dur for k in tracer.children(p.span)) / p.span.dur
    )
    m["trace.overhead_s"] = (
        med(lambda p: p.span.dur) - med(lambda p: p.span.dur, plain) if plain else 0.0
    )
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_correctness.py")
    ):
        print(f"perfbench: {PACKAGE} and tools/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # SIGTERM unwinds through the finally below, which stops the JVM and
    # removes the run dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    out: dict = {}
    try:
        _isolate(run_dir)
        os.chdir(run_dir)  # anything Spark writes relative to cwd stays here
        run(args, run_dir, out)
    finally:
        if "spark" in out:
            _stop_spark(out["spark"])
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    if args.trace:
        trace_dir = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(trace_dir, exist_ok=True)
        out["tracer"].dump(os.path.join(trace_dir, f"{out['tracer'].run_id}.jsonl"))
        metrics, units = out["layers"], _units("per_layer")
    else:
        metrics, units = out["e2e"], _units("end_to_end")
    for e in out["errors"]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print(json.dumps({"window": out["window"], "seed": args.seed, "workload": args.workload}))
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _units(section: str) -> dict[str, str]:
    """Unit of each metric of ``section`` in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main())
