"""Counters read from outside the program: /proc and the JVM over py4j.

Nothing here changes what the engine does; every function only reads.
"""

from __future__ import annotations

import os
import time

_CLK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# Process tree: CPU-seconds and resident memory
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                fields = f.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU-seconds used so far by this process tree.

    Each live process contributes its own user+system time plus that of
    its children already reaped, so a Python worker that has exited is
    still counted once, through its parent.
    """
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                fields = f.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is field 3 (state); utime..cstime are fields 14..17
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def jit_thread_ticks() -> dict[tuple[int, int], int]:
    """CPU ticks of each live HotSpot compiler thread (C1/C2) in this
    process tree, keyed by (pid, tid)."""
    out = {}
    for pid in tree_pids():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                    raw = f.read()
            except OSError:
                continue
            comm = raw[raw.index(b"(") + 1 : raw.rindex(b")")]
            if comm.startswith((b"C1 Compiler", b"C2 Compiler")):
                fields = raw.rsplit(b")", 1)[1].split()
                out[(pid, int(tid))] = int(fields[11]) + int(fields[12])
    return out


def jit_cpu_s(before: dict, after: dict) -> float:
    """Compiler-thread CPU-seconds between two ``jit_thread_ticks`` reads.
    HotSpot starts and stops compiler threads on demand; a thread that
    exited in between takes its last ticks with it, so this undercounts."""
    return sum(t - before.get(k, 0) for k, t in after.items()) / _CLK


def tree_peak_rss_mb(exclude: int | None = None) -> float:
    """Sum of each live process's peak resident set (VmHWM), in MiB.

    ``exclude`` drops one process, e.g. the Python driver, so the figure is
    the JVM plus its workers.
    """
    kb = 0
    for pid in tree_pids():
        if pid == exclude:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


# ---------------------------------------------------------------------------
# Host window: what else was happening while the run measured
# ---------------------------------------------------------------------------


def cpu_ticks() -> dict[str, int]:
    """Aggregate /proc/stat counters: steal and total ticks."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    return {"steal": vals[7] if len(vals) > 7 else 0, "total": sum(vals[:8])}


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def calibrate(n: int = 3_000_000) -> float:
    """Seconds for a fixed single-process Python loop: a host-speed anchor
    recorded beside the metrics, never used to rescale them."""
    t0 = time.perf_counter()
    s = 0
    for i in range(n):
        s += i * i
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# JVM: HotSpot JIT, GC, code cache, Janino codegen, Catalyst rules
# ---------------------------------------------------------------------------


class JvmCounters:
    """Cumulative engine counters, read over py4j from the live JVM."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._code_pools = [
            p for p in mf.getMemoryPoolMXBeans() if "code" in p.getName().lower()
        ]
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._rules = jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
        self._sc = spark.sparkContext
        self._store = spark._jsc.sc().statusStore()
        self._dag = spark._jsc.sc().dagScheduler()

    def read(self) -> dict[str, float]:
        cg = self._codegen
        rules = self._rules.getCurrentMetrics()
        return {
            "jit_ms": float(self._comp.getTotalCompilationTime()),
            "gc_ms": float(sum(g.getCollectionTime() for g in self._gcs)),
            "code_cache_mb": sum(p.getUsage().getUsed() for p in self._code_pools)
            / 2**20,
            "codegen_compiles": float(cg.METRIC_COMPILATION_TIME().getCount()),
            "codegen_ms": float(_hist_sum(cg.METRIC_COMPILATION_TIME())),
            "rules_ms": rules.time() / 1e6,
            # The id the scheduler gives the next job: a span's jobs are
            # the ids between its two reads. py4j converts the AtomicInteger.
            "jobs": float(self._dag.nextJobId()),
        }

    def exec_stats(self, first_job: int, end_job: int) -> dict[str, float]:
        """Jobs, stages, tasks, shuffle-write and spill bytes of the jobs
        with ids in ``[first_job, end_job)``, from the status store."""
        tracker = self._sc.statusTracker()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes"), 0.0
        )
        for jid in range(first_job, end_job):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # skipped stages never ran an attempt
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def cache_left(self) -> dict[str, float]:
        """Persisted RDDs and their stored bytes, memory plus disk."""
        infos = list(self._sc._jsc.sc().getRDDStorageInfo())
        return {
            "rdds": float(len(infos)),
            "bytes": float(sum(i.memSize() + i.diskSize() for i in infos)),
        }


def _hist_sum(hist) -> float:
    snap = hist.getSnapshot()
    return float(snap.getMean() * hist.getCount())
