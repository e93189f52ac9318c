"""SparkSession factory.

One place to configure the engine. Tuned knobs:

- AQE on (runtime re-plan: skew joins, partition coalescing) — at 100 TB the
  static plan is always wrong somewhere; AQE fixes it from runtime stats.
- shuffle.partitions sized from cores for local runs; on a real cluster this
  is overridden (AQE coalescing makes the initial number less critical).
- Arrow on for every pandas interop path (Pandas UDFs, toPandas).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "datalakes_and_data_integration_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) the session.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. On a real
    cluster, pass ``master`` via spark-submit and this factory only sets SQL
    conf (builder.master is skipped when spark.master is already set).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = SparkSession.builder.appName(app_name)
    if "spark.master" not in os.environ.get("SPARK_CONF", "") and not os.environ.get(
        "SPARK_MASTER_URL"
    ):
        builder = builder.master(f"local[{cores}]")

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # Reference semantics are null-on-error for casts/parses
        # (preprocess_to_staging.py:35-63); ANSI mode (Spark 4 default) throws.
        "spark.sql.ansi.enabled": "false",
        # events.parquet stores TIMESTAMP(NANOS); Spark's vectorized reader
        # rejects it. Read as long and convert in the loader (values are
        # µs-aligned, so the conversion is lossless — verified in TESTDATA).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Partition values stay strings: pollutant codes like "01" must not
        # round-trip to int 1 between zones (dir pollutant_code=01 -> col "01").
        "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # Large generated expressions (64-dim unrolled dot products) compile
        # to >8KB-bytecode methods, which HotSpot refuses to JIT by default —
        # they run in the bytecode interpreter, ~8x slower (measured 9.9s ->
        # 1.2s warm on the 4M-pair scan). And once huge methods DO compile,
        # a registry-sized query mix fills the default 240 MB code cache:
        # the JIT shuts off ("CodeCache is full") and hot scans degrade back
        # to interpreted for the rest of the JVM's life — measured round 9:
        # the 4M-pair scan reads 3.5 s warm in a fresh session and 9-11 s
        # after 14 other bench queries ran, with NO reconvergence. 1 GiB of
        # reserve is noise on this box and fits ~50 queries' codegen.
        # Only effective at JVM launch; in local mode driver == executor.
        # On a real cluster set the same flags in
        # spark.executor.extraJavaOptions.
        "spark.driver.extraJavaOptions": (
            "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=1g"
        ),
        # ...and the generated-CLASS cache must hold the whole query mix
        # too: at the default 100 entries a registry-sized session evicts
        # earlier queries' codegen classes, every re-run generates (and
        # Janino-compiles, and the JVM re-JITs) a fresh class, so a query
        # never accumulates JIT state across passes — the second half of
        # the round-9 finding above. ~50 bench queries x ~10 codegen
        # stages each needs ~500; 2000 is cheap (soft references).
        "spark.sql.codegen.cache.maxEntries": "2000",
        # Shuffle/spill files default to /tmp, which some hosts purge on a
        # timer — a purge mid-job deletes live blockmgr dirs and kills the
        # stage (observed: "temp_local_... No such file or directory" ~25
        # min into heavy runs). Keep scratch under the user's cache dir;
        # SPARK_LOCAL_DIRS (honored by Spark itself) still overrides.
        "spark.local.dir": os.environ.get(
            "SPARK_LOCAL_DIRS",
            os.path.join(
                os.path.expanduser("~"), ".cache", "spark_graft_local"
            ),
        ),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # files.maxPartitionBytes default 128m is right for the 100 TB design
        # point; do not shrink it for tiny local files (AQE coalesces instead).
    }
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register each parquet table under ``sf_dir`` as a temp view and return
    a dict name -> DataFrame. Mirrors the driver's DuckDB-side registration."""
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
