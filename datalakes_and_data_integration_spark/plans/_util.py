"""Shared helpers for query implementations.

Determinism conventions shared with the DuckDB oracles:

- ``dec(col, p, s)``: cast a double to DECIMAL(p,s) before aggregating. A
  decimal sum is exact and therefore independent of Spark's partition /
  combine order — the oracle's single-threaded sum matches bit-for-bit. The
  final value is cast back to DOUBLE (exact decimal -> correctly-rounded
  double is deterministic in both engines) so schemas stay comparable.
- Precisions are chosen so chained multiplies stay inside 38 digits and are
  never rounded: price DECIMAL(12,2) * rate DECIMAL(8,6) -> (21,8); one more
  rate -> (30,14); sum caps at (38,14) without scale loss.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the driver-provided parquet tables.

    Parquet TIMESTAMP(NANOS) columns arrive as long (session sets
    ``spark.sql.legacy.parquet.nanosAsLong``); convert them back to proper
    microsecond timestamps so downstream semantics match DuckDB, which reads
    the same column as TIMESTAMP (values are µs-aligned).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (round 1) and as
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 2) — the loader must
        # be representation-agnostic. Spark 4 rejects nanos outright unless it
        # may read them as long. The caller's session (the driver builds its
        # own, without our factory's conf) might not have the flag — it is
        # runtime-settable, so set it here defensively, along with the UTC
        # session timezone the NTZ->instant normalization below relies on.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    if name == "events":
        df = _canonical_ts(df)
    return df


def _canonical_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to TIMESTAMP (an instant; wall time == UTC).

    Three physical shapes appear in the wild for the same µs-aligned data:
    bigint nanos (via nanosAsLong), TIMESTAMP_NTZ (µs, no zone), and plain
    TIMESTAMP. Every query downstream — epoch arithmetic (``unix_micros``),
    range-frame windows, watermarks — assumes the instant type, and the
    DuckDB oracles read the same column as naive-UTC. With the session
    timezone pinned to UTC the NTZ cast is wall-time-preserving, so all
    three shapes collapse to identical values.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread(df: DataFrame, spark: SparkSession, *, by: str | None = None) -> DataFrame:
    """Ensure at least one partition per core before CPU-heavy per-row work.

    A small parquet file scans as ONE partition, serializing everything
    downstream (tokenize/shingle/hash pipelines measured 32x slower). On a
    real cluster the input already has >= cores splits and this is a no-op —
    the repartition only fires when the scan is narrower than the session's
    parallelism, so no 100 TB-scale shuffle is ever introduced by it.
    """
    # Cap at 64: spread exists for CPU parallelism on small scans, and a
    # session with the default 200 shuffle partitions (e.g. a harness-built
    # one) would otherwise pay 200-task scheduling overhead per tiny stage.
    n = min(int(spark.conf.get("spark.sql.shuffle.partitions")), 64)
    if _est_scan_partitions(df, spark) >= n:
        return df
    return df.repartition(n, by) if by else df.repartition(n)


def _size_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value ("134217728", "128m", "4m",
    "1g", with optional trailing 'b')."""
    s = v.strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in "kmgt":
        mult = 1024 ** ("kmgt".index(s[-1]) + 1)
        s = s[:-1]
    return int(float(s) * mult)


def _est_scan_partitions(df: DataFrame, spark: SparkSession) -> int:
    """Partition count of ``df``'s scan estimated from its input files
    with Spark's own FilePartition packing arithmetic — NOT from
    ``df.rdd.getNumPartitions()``, which forces a second full
    analysis + physical planning of the tree on every call (VERDICT
    r9 #7: twice per query per pass on wide plans). The guard only
    needs the two regimes to be right, and they are exact here: a
    tiny local file packs into a handful of splits (→ repartition
    fires, same as before) and a real cluster's table has >= cores
    splits (→ no-op, same as before). Frames with no file source
    (in-memory fixtures) keep the old RDD probe — their plans are
    trivially cheap to plan twice."""
    import math
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return df.rdd.getNumPartitions()
    total = 0
    for f in files:
        path = unquote(urlparse(f).path) if "://" in f or f.startswith(
            "file:"
        ) else f
        try:
            total += os.path.getsize(path)
        except OSError:
            return df.rdd.getNumPartitions()
    open_cost = _size_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    mpb = _size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    par = spark.sparkContext.defaultParallelism
    weighted = total + len(files) * open_cost
    # org.apache.spark.sql.execution.FilePartition.maxSplitBytes
    max_split = min(mpb, max(open_cost, weighted // max(par, 1)))
    return max(1, math.ceil(weighted / max(max_split, 1)))


def dec(col, p: int = 12, s: int = 2):
    """Exact-decimal view of a double column (see module docstring)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({p},{s})")


def msum(e: str, name: str):
    """Order-independent sum of the SQL expression ``e``: summed as
    DECIMAL(27,12), rounded to 6 places, cast to double, aliased ``name``
    (see module docstring)."""
    return (
        F.round(F.sum(F.expr(f"CAST({e} AS DECIMAL(27,12))")), 6)
        .cast("double")
        .alias(name)
    )


def r6_sql(expr: str) -> str:
    """SQL text of the display rounding: ``expr`` rounded to 6 places
    through DECIMAL(27,12) — the NOTES.md half-boundary recipe. The
    (bit-identical) double is cast to decimal first, so the tie-round
    decision happens in decimal arithmetic, identically in both engines."""
    return f"CAST(ROUND(CAST({expr} AS DECIMAL(27,12)), 6) AS DOUBLE)"


def r6(c):
    """Column form of :func:`r6_sql` (the same expression tree)."""
    return F.round(c.cast("decimal(27,12)"), 6).cast("double")


def doubled_midranks(
    df: DataFrame,
    value: str,
    *,
    by: tuple[str, ...] = (),
    nulls_last: bool = False,
) -> DataFrame:
    """``df`` (one row per distinct ``value`` within ``by``, with its row
    count ``cnt``) plus ``dm``, the doubled midrank of that value.

    The tied rows hold ranks cb+1 .. cb+cnt, where cb counts the rows
    with a smaller value; their mean doubled, 2*cb + cnt + 1, is an
    exact BIGINT. NULL values sort first unless ``nulls_last`` (the
    DuckDB default, which an oracle's ``ORDER BY`` follows).
    """
    order = F.col(value).asc_nulls_last() if nulls_last else F.col(value)
    # scale-ok: one row per DISTINCT value, a bounded sort
    w = Window.partitionBy(*by).orderBy(order)
    cb = F.sum("cnt").over(w) - F.col("cnt")
    return df.withColumn("dm", 2 * cb + F.col("cnt") + 1)


PRICE = (12, 2)  # covers 999,999,999.99
QTY = (12, 2)
RATE = (8, 6)  # discount / tax in [0, 1], up to 6 significant decimals
VALUE = (18, 6)  # events.value and other generic measures


def state_tmp(prefix: str) -> str:
    """Deterministic per-process scratch dir for query-local streaming
    state (micro-batch sources, merge-state roots, checkpoints).

    ``tempfile.mkdtemp`` per invocation leaked one directory per query
    run (ADVICE r7); reusing ``<tmp>/spark_graft_state_<pid>/<prefix>``
    — wiped on entry, so every invocation still starts from empty state
    exactly like a fresh mkdtemp — bounds the footprint at one
    directory per call site per process. The pid suffix keeps
    concurrent gate/driver processes isolated.
    """
    import shutil
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_state_{os.getpid()}", prefix
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
