"""Warehouse-maintenance queries: continuous aggregates, pivot/unpivot,
skew-salted joins.

Registered after the round-2 driver-window cutoff (see plans/__init__.py);
oracle-checked by the local gate and eligible to rotate into the driver
window next round.

The continuous-aggregate query is the scale answer to the reference's
full-recompute curated stage (process_to_curated.py reads the whole
staging table every run): maintain mergeable partials incrementally and
only ever touch the increment — see operators/rollup.py for the design.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.plans._util import (
    T,
    dec,
    r6_sql,
    state_tmp,
)
from datalakes_and_data_integration_spark.plans.registry import register

# Daily-rollup maintenance scenario over the 2024-01-01..30 events table:
# history is rolled up once, three daily increments are merged in (the
# nightly job), and reads serve closed days from the rollup plus the
# still-open tail straight from raw — proving rollup ∪ tail == full
# recompute (the oracle).
_HISTORY_END = "2024-01-25"  # history rollup covers ts < this
_INCREMENT_DAYS = ("2024-01-25", "2024-01-26", "2024-01-27")
_HIGH_WATER = "2024-01-28"  # rollup covers ts < this after maintenance


@register(
    "continuous_aggregate_daily",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           event_type,
           count(*) AS n_events,
           CAST(ROUND(sum(CAST(value AS DECIMAL(27,6))), 4) AS DOUBLE)
             AS total_value,
           CAST(ROUND(CAST(CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                           / count(*) AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS avg_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY day, event_type
    """,
    description="Continuous-aggregate maintenance (operators/rollup.py): "
    "daily (day x event_type) partials — count / exact-decimal sum / min "
    "/ max, all mergeable — for the history and three daily increments "
    "(the nightly job), each a batch label of one labelled scan, folded "
    "into the stored rollup by one ledgered state transition "
    "(streaming/sketch_maintenance.merge_state under rollup.ROLLUP_AGGS), "
    "then served merge-on-read: closed days from the rollup, the open "
    "tail folded in from raw at the partial level. Equals a full "
    "recompute (the oracle) while the maintenance path only ever reads "
    "each increment once. Scale shape: merges shuffle O(days x types) "
    "partial rows with map-side combine, never raw history; a transition "
    "rewrites the whole rollup (O(days x types) rows) into a fresh dir "
    "and commits it with the applied-batch ledger.",
    tags=("maintenance", "rollup", "incremental", "timeseries"),
)
def continuous_aggregate_daily(spark, sf_dir):
    from datalakes_and_data_integration_spark.operators.rollup import (
        ROLLUP_AGGS,
        finalize_rollup,
        merge_rollups,
        partial_rollup,
    )
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        BID,
        merge_state,
    )

    e = T(spark, sf_dir, "events")
    bucket = F.col("ts").cast("date")
    keys = ["event_type"]

    # Label 0 is the history, label i the i-th nightly increment: every
    # maintained partial comes out of one scan, and one transition folds
    # them all into the rollup (the merge algebra is order-free).
    label = F.when(F.col("ts") < _HISTORY_END, 0)
    for i, nxt in enumerate((*_INCREMENT_DAYS[1:], _HIGH_WATER), start=1):
        label = label.when(F.col("ts") < nxt, i)
    rolled = merge_state(
        spark,
        state_tmp("contagg"),
        partial_rollup(
            e.filter(F.col("ts") < _HIGH_WATER).withColumn(BID, label),
            bucket,
            [BID, *keys],
        ),
        batch_ids=list(range(len(_INCREMENT_DAYS) + 1)),
        key_cols=["bucket", *keys],
        aggs=ROLLUP_AGGS,
    )
    # Merge-on-read: the open tail (not yet maintained) at partial level.
    tail = partial_rollup(
        e.filter(F.col("ts") >= _HIGH_WATER), bucket, keys
    )
    return finalize_rollup(merge_rollups(rolled, tail)).withColumnRenamed(
        "bucket", "day"
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "pivot_unpivot_roundtrip",
    oracle="""
    SELECT user_id,
           event_type,
           CAST(ROUND(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
             AS total_value
    FROM events
    GROUP BY user_id, event_type
    """,
    description="Wide/long reshaping round-trip: pivot events into one "
    "column per event type (the reference's gold stage is exactly this "
    "wide per-pollutant shape, process_to_curated.py:60-88), then unpivot "
    "back to long with the built-in stack()-based unpivot, dropping the "
    "nulls pivot invented for absent (user, type) combos — equals the "
    "direct long aggregation (the oracle). Scale shape: pivot with an "
    "explicit value list is one shuffle (no distinct-values pre-scan); "
    "unpivot is a narrow map — no extra exchange.",
    tags=("reshape", "pivot", "parity"),
)
def pivot_unpivot_roundtrip(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    wide = (
        e.groupBy("user_id")
        # Explicit value list: without it Spark runs a distinct() pre-scan
        # over the fact table just to learn the column names.
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.round(F.sum(dec("value", 18, 6)), 4).cast("double"))
    )
    long = wide.unpivot(
        ids=["user_id"],
        values=list(_EVENT_TYPES),
        variableColumnName="event_type",
        valueColumnName="total_value",
    )
    return long.filter(F.col("total_value").isNotNull())


@register(
    "skew_salted_join_stats",
    oracle="""
    SELECT n.n_name AS nation,
           count(*) AS n_events,
           CAST(ROUND(sum(CAST(e.value AS DECIMAL(18,6))), 4) AS DOUBLE)
             AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY nation
    """,
    description="Skew-safe fact-dim join (operators/skew.py): events "
    "salted 8 ways against the customer dim (exploded per salt), then "
    "nation rollup — identical to the plain join (the oracle), proving "
    "salting is a pure physical rewrite. The events table concentrates "
    "on 150 of 1500 customers (10x hot-key skew by construction). When "
    "AQE skew splitting can't apply (pre-aggregated or pre-partitioned "
    "inputs), this is the explicit form: each hot key spreads over "
    "salt_count tasks at the cost of replicating the dim 8x.",
    tags=("join", "skew", "scale"),
)
def skew_salted_join_stats(spark, sf_dir):
    from datalakes_and_data_integration_spark.operators.skew import salted_join

    e = T(spark, sf_dir, "events").select("user_id", "value")
    c = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = salted_join(e, c, on="user_id", salt_count=8)
    return (
        joined.join(F.broadcast(n), joined.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(dec("value", 18, 6)), 4)
            .cast("double")
            .alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# GDPR right-to-be-forgotten delete planning.
# ---------------------------------------------------------------------------

_GDPR_SEED = 17  # seed 13 samples ZERO of sf0.001's 150 customers
_GDPR_PCT = 2  # % of customers requesting erasure (deterministic sample)


def _gdpr_oracle() -> str:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_duck,
    )

    h = hash60_sql_duck("CAST(c_custkey AS VARCHAR)", seed=_GDPR_SEED)
    return f"""
    WITH forget AS MATERIALIZED (
      SELECT c_custkey AS k FROM customer WHERE {h} % 100 < {_GDPR_PCT}
    )
    SELECT 'customer' AS table_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_keys,
           CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_partitions
    FROM customer WHERE c_custkey IN (SELECT k FROM forget)
    UNION ALL
    SELECT 'orders',
           CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(count(DISTINCT date_trunc('month', o_orderdate)) AS BIGINT)
    FROM orders WHERE o_custkey IN (SELECT k FROM forget)
    UNION ALL
    SELECT 'events',
           CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT user_id) AS BIGINT),
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
    FROM events WHERE user_id IN (SELECT k FROM forget)
    """


@register(
    "gdpr_delete_manifest",
    oracle=_gdpr_oracle(),
    description=f"Right-to-be-forgotten delete planning: a deterministic "
    f"{_GDPR_PCT}% erasure-request sample of customers (seeded md5 on "
    "c_custkey) is resolved into a per-table delete manifest — affected "
    "row count, affected key count, and the number of physical "
    "partitions the deletion executor must rewrite (customer bucketed "
    "by nation, orders partitioned by order month, events by event "
    "day). On immutable columnar storage a delete IS a partition "
    "rewrite, so the manifest's n_partitions is the job's real cost "
    "estimate. The forget set is dimension-sized and broadcast: every "
    "fact table is probed by a broadcast LEFT SEMI join — facts never "
    "shuffle — and each branch is one map-side-combined aggregate. "
    "Completes the governance family next to k_anonymity_audit / "
    "l_diversity_audit / text_pii_mask.",
    tags=("maintenance", "governance", "privacy", "audit"),
    bench=True,  # promoted r7: the governance probe (broadcast semi-joins)
)
def gdpr_delete_manifest(spark, sf_dir):
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_seeded,
    )

    cust = T(spark, sf_dir, "customer")
    forget = cust.filter(
        hash60_seeded(F.col("c_custkey").cast("string"), _GDPR_SEED) % 100
        < _GDPR_PCT
    ).select(F.col("c_custkey").alias("k"))

    def branch(df, name, key, part_expr):
        hit = df.join(
            F.broadcast(forget), F.col(key) == F.col("k"), "left_semi"
        )
        return hit.agg(
            F.lit(name).alias("table_name"),
            F.count("*").alias("n_rows"),
            F.countDistinct(key).cast("long").alias("n_keys"),
            F.countDistinct(part_expr).cast("long").alias("n_partitions"),
        )

    ev = T(spark, sf_dir, "events")
    return (
        branch(cust, "customer", "c_custkey", F.col("c_nationkey"))
        .unionByName(
            branch(
                T(spark, sf_dir, "orders"),
                "orders",
                "o_custkey",
                F.date_trunc("month", F.col("o_orderdate")),
            )
        )
        .unionByName(
            branch(ev, "events", "user_id", F.col("ts").cast("date"))
        )
    )


# ---------------------------------------------------------------------------
# Z-order clustered layout planning (Delta/Iceberg OPTIMIZE ZORDER shape).
# ---------------------------------------------------------------------------

_Z_FILES = 32
_Z_BITS = 16  # per-dimension quantization width; 2 dims -> 32-bit codes
_Z_MASKS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread_sql(expr: str, shift: str) -> str:
    """Bit-spread a 16-bit value so its bits occupy even positions.

    ``shift`` is an engine template for left shift with placeholders
    ``{v}`` and ``{n}`` — Spark lacks ``<<`` but has shiftleft(); DuckDB
    has ``<<``. Masks/adds are plain int64 arithmetic in both.
    """
    v = expr
    for n, mask in _Z_MASKS:
        sh = shift.format(v=v, n=n)
        v = f"(({v} | {sh}) & {mask})"
    return v


def _morton_sql(qx: str, qy: str, shift: str) -> str:
    # Disjoint bit positions, so + == | between the two spread values.
    return f"({_spread_sql(qx, shift)} + 2 * {_spread_sql(qy, shift)})"


_SPARK_SHIFT = "shiftleft({v}, {n})"
_DUCK_SHIFT = "({v} << {n})"


def _zorder_oracle() -> str:
    q = 1 << _Z_BITS
    morton = _morton_sql("qx", "qy", _DUCK_SHIFT)
    return f"""
    WITH base AS (
      SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
             (l_partkey * {q}) // (SELECT max(l_partkey) + 1 FROM lineitem)
               AS qx,
             (l_suppkey * {q}) // (SELECT max(l_suppkey) + 1 FROM lineitem)
               AS qy
      FROM lineitem
    ),
    coded AS (SELECT *, {morton} AS z FROM base),
    ranked AS (
      SELECT 'zorder' AS layout, l_partkey, l_suppkey,
             ROW_NUMBER() OVER (ORDER BY z, l_orderkey, l_linenumber) - 1
               AS rank0
      FROM coded
      UNION ALL
      SELECT 'linear' AS layout, l_partkey, l_suppkey,
             ROW_NUMBER()
               OVER (ORDER BY l_partkey, l_orderkey, l_linenumber) - 1
               AS rank0
      FROM coded
    )
    SELECT layout,
           CAST((rank0 * {_Z_FILES}) // (SELECT count(*) FROM lineitem)
                AS BIGINT) AS file_id,
           count(*) AS n_rows,
           min(l_partkey) AS min_partkey, max(l_partkey) AS max_partkey,
           min(l_suppkey) AS min_suppkey, max(l_suppkey) AS max_suppkey
    FROM ranked
    GROUP BY 1, 2
    """


@register(
    "zorder_layout_plan",
    oracle=_zorder_oracle(),
    description="Z-order clustered rewrite planning (the Delta/Iceberg "
    "OPTIMIZE ZORDER shape): lineitem rows get a 32-bit Morton code — "
    "each of (l_partkey, l_suppkey) monotonically quantized to 16 bits, "
    "bits interleaved by the shift-or-mask spread, pure int64 in both "
    "engines — and are packed into 32 equal-row files in code order; the "
    "report is each file's (partkey, suppkey) min/max envelope next to "
    "the single-column LINEAR sort baseline, i.e. exactly the footer "
    "stats a reader prunes on: z-order bounds BOTH dims per file, linear "
    "bounds one and spans the other (pinned by test). Global rank uses "
    "the bucketed two-pass running count (top-8-bits bucket subtotals + "
    "within-bucket row_number; bucket order == code order because the "
    "bucket IS the code's top bits) so no global single-reducer sort "
    "exists in the plan; the oracle is the naive one-window ROW_NUMBER, "
    "and the driver hash match proves the two-pass form equal. At 100 TB "
    "the physical rewrite is repartitionByRange(z) + "
    "sortWithinPartitions(z) into the table format's OPTIMIZE; this query "
    "is its planning/audit half.",
    tags=("layout", "maintenance", "zorder", "scale"),
)
def zorder_layout_plan(spark, sf_dir):
    from pyspark.sql import Window

    q = 1 << _Z_BITS
    li = T(spark, sf_dir, "lineitem")
    mx_p, mx_s, n = li.agg(
        F.max("l_partkey"), F.max("l_suppkey"), F.count("*")
    ).collect()[0]  # scale-ok: 3 scalars (quantization bounds + row count)
    morton = _morton_sql("qx", "qy", _SPARK_SHIFT)
    coded = (
        li.select("l_partkey", "l_suppkey", "l_orderkey", "l_linenumber")
        .withColumn("qx", F.expr(f"(l_partkey * {q}) div {mx_p + 1}"))
        .withColumn("qy", F.expr(f"(l_suppkey * {q}) div {mx_s + 1}"))
        .withColumn("z", F.expr(morton))
        .persist()  # two layout passes over the same coded frame
    )

    def layout(name: str, order: list[str], bucket_expr: str):
        d = coded.withColumn("bucket", F.expr(bucket_expr))
        wb = (
            Window.orderBy("bucket")  # scale-ok: offsets frame <= 256 rows (bucket subtotals, not fact rows)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = F.broadcast(
            d.groupBy("bucket")
            .agg(F.count("*").alias("bn"))
            .withColumn(
                "base",
                F.coalesce(F.sum("bn").over(wb), F.lit(0).cast("long")),
            )
            .select("bucket", "base")
        )
        win = Window.partitionBy("bucket").orderBy(*order)
        return (
            d.join(offsets, "bucket")
            .withColumn(
                "rank0", F.col("base") + F.row_number().over(win) - 1
            )
            .select(
                F.lit(name).alias("layout"),
                F.expr(f"(rank0 * {_Z_FILES}) div {n}")
                .cast("long")
                .alias("file_id"),
                "l_partkey",
                "l_suppkey",
            )
        )

    both = layout(
        "zorder", ["z", "l_orderkey", "l_linenumber"],
        f"z div {1 << (2 * _Z_BITS - 8)}",
    ).unionByName(
        layout(
            "linear",
            ["l_partkey", "l_orderkey", "l_linenumber"],
            "qx div 256",
        )
    )
    return both.groupBy("layout", "file_id").agg(
        F.count("*").alias("n_rows"),
        F.min("l_partkey").alias("min_partkey"),
        F.max("l_partkey").alias("max_partkey"),
        F.min("l_suppkey").alias("min_suppkey"),
        F.max("l_suppkey").alias("max_suppkey"),
    )


# ---------------------------------------------------------------------------
# Small-file compaction planning (the Delta/Iceberg OPTIMIZE bin-packing
# shape, and byte-for-byte the rule Spark's own FileSourceScanExec uses to
# pack splits under spark.sql.files.maxPartitionBytes).
# ---------------------------------------------------------------------------

# The file-size model shared by the THREE maintenance queries that read
# the same (event_type, day) file manifest — compaction_bin_packing_plan,
# deletion_vector_cost_report, lakehouse_maintenance_planner — and their
# oracles: one copy, so the planner's target can never desynchronize
# from the compaction plan's bins (code-review r7 s6 finding #5).
_FILE_ROW_BYTES = 32
_FILE_RB_SQL = f"{_FILE_ROW_BYTES} + coalesce(strlen(props), 0)"
_FILE_DAY_SQL = "CAST(date_trunc('day', ts) AS DATE)"


def _file_rb_col():
    return F.lit(_FILE_ROW_BYTES) + F.coalesce(
        F.octet_length("props"), F.lit(0)
    )


def _file_day_col():
    return F.date_trunc("day", "ts").cast("date")


_COMPACT_BINS = 40  # target ~8 bins per partition: tgt = total_bytes // 40


@register(
    "compaction_bin_packing_plan",
    oracle=f"""
    WITH files AS (
      SELECT event_type,
             {_FILE_DAY_SQL} AS day,
             CAST(sum({_FILE_RB_SQL}) AS BIGINT) AS bytes
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT greatest(CAST(sum(bytes) // {_COMPACT_BINS} AS BIGINT),
                      CAST(1 AS BIGINT)) AS tgt
      FROM files
    ),
    packed AS (
      SELECT event_type, day, bytes,
             CAST(coalesce(sum(bytes) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start
      FROM files
    )
    SELECT p.event_type,
           CAST(p.start // t.tgt AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(p.bytes) AS BIGINT) AS bin_bytes,
           min(p.day) AS min_day,
           max(p.day) AS max_day,
           round(CAST(sum(p.bytes) AS DOUBLE) / t.tgt, 6) AS fill_ratio
    FROM packed p, t
    GROUP BY 1, 2, t.tgt
    """,
    description="Small-file compaction planning (Delta/Iceberg OPTIMIZE): "
    "the day-partitioned events table lands one file per (event_type, "
    "day) — file size modeled as 32 bytes/row + the props payload — and "
    "the planner packs each type's files IN DAY ORDER into target-sized "
    "compaction bins by the start-offset rule: a file joins the bin its "
    "cumulative start offset falls in (bin = running_bytes div target; "
    "exactly how FileSourceScanExec packs splits under "
    "maxPartitionBytes, openCostInBytes aside). Order-preserving packing "
    "keeps each output file's day span contiguous (min_day/max_day "
    "report the preserved clustering envelope — compaction must not "
    "destroy time-pruning). The target is corpus-derived (total_bytes "
    "div 40, so the plan is meaningful at every SF) and the exclusive "
    "running sum is a per-partition running frame — never a tail "
    "re-scan. At 100 TB the file list is METADATA-scale (one row per "
    "file, not per data row): the planner reads the manifest, packs per "
    "partition in parallel, and each bin becomes one rewrite task.",
    tags=("maintenance", "layout", "compaction", "scale"),
)
def compaction_bin_packing_plan(spark, sf_dir):
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    files = (
        ev.groupBy("event_type", _file_day_col().alias("day"))
        .agg(F.sum(_file_rb_col()).cast("long").alias("bytes"))
        .persist()  # manifest-sized; read for the target scalar + the pack
    )
    total = files.agg(F.sum("bytes")).collect()[0][0]  # scale-ok: 1 scalar (manifest total)
    tgt = max(int(total) // _COMPACT_BINS, 1)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = files.withColumn(
        "start", F.coalesce(F.sum("bytes").over(w), F.lit(0)).cast("long")
    ).withColumn("bin_id", F.expr(f"start div {tgt}"))
    return packed.groupBy("event_type", "bin_id").agg(
        F.count("*").alias("n_files"),
        F.sum("bytes").cast("long").alias("bin_bytes"),
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
        F.round(F.sum("bytes").cast("double") / F.lit(tgt), 6).alias(
            "fill_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# Deletion-vector cost accounting: merge-on-read vs copy-on-write.
# ---------------------------------------------------------------------------

# The erasure sample is keyed on the OBSERVED user domain of the fact
# table, not the customer dim: sf0.001's events touch only 15 of 150
# customers and the gdpr_delete_manifest seed misses all of them, which
# would leave every file untouched (a vacuous fixture — no MoR/CoW branch
# ever fires). Production erasure lists arrive externally either way; the
# observed-domain sample keeps the fixture non-trivial at every SF
# (2/15, 14/150, 149/1500 subjects).
_DV_SEED = 8
_DV_PCT = 10  # % of observed data subjects requesting erasure


def _dv_oracle() -> str:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_duck,
    )

    h = hash60_sql_duck("CAST(user_id AS VARCHAR)", seed=_DV_SEED)
    return f"""
    WITH forget AS MATERIALIZED (
      SELECT DISTINCT user_id AS k FROM events
      WHERE {h} % 100 < {_DV_PCT}
    ),
    tagged AS (
      SELECT event_type,
             {_FILE_DAY_SQL} AS day,
             {_FILE_RB_SQL} AS rb,
             user_id IN (SELECT k FROM forget) AS del
      FROM events
    ),
    f AS (
      SELECT event_type, day,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(rb) AS BIGINT) AS file_bytes,
             CAST(coalesce(sum(CASE WHEN del THEN 1 END), 0) AS BIGINT)
               AS n_deleted,
             CAST(sum(CASE WHEN NOT del THEN rb ELSE 0 END) AS BIGINT)
               AS surviving_bytes
      FROM tagged GROUP BY event_type, day
    )
    SELECT event_type, day, n_rows, n_deleted, file_bytes,
           surviving_bytes,
           CAST(CASE WHEN n_deleted > 0 THEN (n_rows + 7) // 8 + 32
                     ELSE 0 END AS BIGINT) AS dv_bytes,
           CAST(CASE WHEN n_deleted > 0 THEN surviving_bytes
                     ELSE 0 END AS BIGINT) AS cow_write_bytes,
           CASE WHEN surviving_bytes = 0 THEN NULL
                ELSE round(CAST(file_bytes
                           + CASE WHEN n_deleted > 0
                                  THEN (n_rows + 7) // 8 + 32
                                  ELSE 0 END AS DOUBLE)
                           / surviving_bytes, 6)
           END AS mor_read_amplification
    FROM f
    """


@register(
    "deletion_vector_cost_report",
    oracle=_dv_oracle(),
    description="Deletion-vector cost accounting (the Delta/Iceberg "
    "merge-on-read vs copy-on-write decision, per file): a seeded "
    f"{_DV_PCT}% erasure sample of the table's OBSERVED data subjects "
    "(gdpr_delete_manifest's planning shape, re-keyed on the fact "
    "table's own user domain so the fixture is non-vacuous at every "
    "SF) is applied to the events table at its landed file grain — one "
    "file per (event_type, day), the same manifest compaction packs — "
    "size modeled as 32 bytes/row + the props payload — and each file "
    "reports both strategies' bills: MoR writes a row-bitmap deletion "
    "vector (ceil(n_rows/8) + a 32-byte header, only for touched "
    "files) but every later reader scans file + DV "
    "(mor_read_amplification vs the compacted survivor bytes; an "
    "explicit CASE pins NULL for a fully-deleted file — 0 survivor "
    "bytes leaves nothing to amplify against — instead of leaning on "
    "engine x/0 defaults, which diverge on DuckDB >= 1.1); CoW "
    "rewrites the surviving bytes once and readers pay nothing extra. "
    "Touched-file sparsity is what tips the tradeoff — untouched files "
    "cost 0 under both. Shape: the forget set is dim-sized and "
    "broadcast (facts never shuffle for the probe), then ONE map-side-"
    "combined conditional aggregate per file; at 100 TB this is a "
    "manifest-grain report (a row per file), the same metadata scale "
    "the deletion executor plans against.",
    tags=("maintenance", "governance", "lakehouse", "scale"),
)
def deletion_vector_cost_report(spark, sf_dir):
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_seeded,
    )

    forget = (
        T(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .filter(
            hash60_seeded(F.col("user_id").cast("string"), _DV_SEED) % 100
            < _DV_PCT
        )
        .select(F.col("user_id").alias("k"))
    )
    ev = T(spark, sf_dir, "events").select(
        "event_type",
        _file_day_col().alias("day"),
        _file_rb_col().alias("rb"),
        "user_id",
    )
    tagged = ev.join(
        F.broadcast(forget), ev.user_id == F.col("k"), "left"
    ).withColumn("del", F.col("k").isNotNull())
    f = tagged.groupBy("event_type", "day").agg(
        F.count("*").alias("n_rows"),
        F.sum("rb").cast("long").alias("file_bytes"),
        F.coalesce(
            F.sum(F.when(F.col("del"), 1)), F.lit(0)
        )
        .cast("long")
        .alias("n_deleted"),
        F.sum(F.when(~F.col("del"), F.col("rb")).otherwise(0))
        .cast("long")
        .alias("surviving_bytes"),
    )
    dv = F.when(
        F.col("n_deleted") > 0,
        F.expr("(n_rows + 7) div 8") + F.lit(32),
    ).otherwise(0)
    return f.select(
        "event_type",
        "day",
        "n_rows",
        "n_deleted",
        "file_bytes",
        "surviving_bytes",
        dv.cast("long").alias("dv_bytes"),
        F.when(F.col("n_deleted") > 0, F.col("surviving_bytes"))
        .otherwise(0)
        .cast("long")
        .alias("cow_write_bytes"),
        # Explicit NULL for the fully-deleted-file case instead of
        # relying on engine x/0 defaults: Spark and DuckDB 1.0 both
        # return NULL, but DuckDB >= 1.1 flips ieee_floating_point_ops
        # on and DOUBLE/0 becomes inf (ADVICE r7) — the CASE pins the
        # semantics on both sides.
        F.when(
            F.col("surviving_bytes") == 0, F.lit(None).cast("double")
        )
        .otherwise(
            F.round(
                (F.col("file_bytes") + dv).cast("double")
                / F.col("surviving_bytes"),
                6,
            )
        )
        .alias("mor_read_amplification"),
    )


# ---------------------------------------------------------------------------
# Data-skipping effectiveness: the zone-map payoff number for the two
# layouts zorder_layout_plan produces.
# ---------------------------------------------------------------------------

_SKIP_SEED = 29
_SKIP_MOD_PART = 17  # ~1/17 of part keys probed (12 at sf0.001)
_SKIP_MOD_SUPP = 3  # supplier dim is 10 rows at sf0.001


def _data_skipping_oracle() -> str:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_duck,
    )

    hp = hash60_sql_duck("CAST(p_partkey AS VARCHAR)", seed=_SKIP_SEED)
    hs = hash60_sql_duck("CAST(s_suppkey AS VARCHAR)", seed=_SKIP_SEED)
    return f"""
    WITH env AS ({_zorder_oracle()}),
    pp AS (
      SELECT p_partkey AS p FROM part WHERE {hp} % {_SKIP_MOD_PART} = 0
    ),
    sp AS (
      SELECT s_suppkey AS p FROM supplier WHERE {hs} % {_SKIP_MOD_SUPP} = 0
    ),
    legp AS (
      SELECT e.layout, 'partkey' AS dim,
             (SELECT count(*) FROM pp) AS n_probes,
             count(*) AS hits, sum(e.n_rows) AS rows_hit
      FROM pp JOIN env e ON pp.p BETWEEN e.min_partkey AND e.max_partkey
      GROUP BY e.layout
    ),
    legs AS (
      SELECT e.layout, 'suppkey' AS dim,
             (SELECT count(*) FROM sp) AS n_probes,
             count(*) AS hits, sum(e.n_rows) AS rows_hit
      FROM sp JOIN env e ON sp.p BETWEEN e.min_suppkey AND e.max_suppkey
      GROUP BY e.layout
    ),
    u AS (SELECT * FROM legp UNION ALL SELECT * FROM legs)
    SELECT layout, dim,
           CAST(n_probes AS BIGINT) AS n_probes,
           round(CAST(hits AS DOUBLE) / n_probes, 6) AS avg_files_hit,
           round(CAST(rows_hit AS DOUBLE) / n_probes, 6)
             AS avg_rows_scanned,
           round(1 - CAST(hits AS DOUBLE) / (n_probes * {_Z_FILES}), 6)
             AS skip_rate
    FROM u
    """


@register(
    "data_skipping_effectiveness",
    oracle=_data_skipping_oracle(),
    description="Zone-map data-skipping effectiveness — the payoff "
    "number for zorder_layout_plan's two candidate layouts: a seeded "
    "point-lookup workload on each clustering dimension (every ~17th "
    "part key, every ~3rd supplier key) is evaluated against the 32 "
    "per-file (partkey, suppkey) min/max envelopes exactly as a "
    "parquet/Delta reader prunes on footer stats, reporting files hit, "
    "rows scanned, and the skip rate per (layout, dim). The expected "
    "asymmetry IS the result: linear skips near-perfectly on its sort "
    "key and scans everything on the other dim; z-order pays a little "
    "on partkey to skip on BOTH (pinned by test). Shape: the envelope "
    "frame is file-manifest-sized (64 rows) and broadcast; the probe "
    "join is a bounded range BNLJ against that manifest — file-level "
    "pruning is always metadata-scale work, never a fact scan. The "
    "oracle recomputes envelopes + workload in SQL; the hash match "
    "proves the whole skipping simulation.",
    tags=("layout", "maintenance", "zorder", "scale", "audit"),
)
def data_skipping_effectiveness(spark, sf_dir):
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_seeded,
    )

    env = zorder_layout_plan(spark, sf_dir).persist()  # 64 manifest rows
    part = T(spark, sf_dir, "part")
    supp = T(spark, sf_dir, "supplier")
    pp = part.filter(
        hash60_seeded(F.col("p_partkey").cast("string"), _SKIP_SEED)
        % _SKIP_MOD_PART
        == 0
    ).select(F.col("p_partkey").alias("p"))
    sp = supp.filter(
        hash60_seeded(F.col("s_suppkey").cast("string"), _SKIP_SEED)
        % _SKIP_MOD_SUPP
        == 0
    ).select(F.col("s_suppkey").alias("p"))

    def leg(dim: str, probes, mincol: str, maxcol: str):
        n = probes.count()  # scale-ok: 1 scalar — the probe-set size
        hit = probes.join(
            F.broadcast(env),
            (F.col("p") >= F.col(mincol)) & (F.col("p") <= F.col(maxcol)),
        )
        return hit.groupBy("layout").agg(
            F.lit(dim).alias("dim"),
            F.lit(n).cast("long").alias("n_probes"),
            F.round(F.count("*").cast("double") / n, 6).alias(
                "avg_files_hit"
            ),
            F.round(F.sum("n_rows").cast("double") / n, 6).alias(
                "avg_rows_scanned"
            ),
            F.round(
                F.lit(1.0)
                - F.count("*").cast("double") / (n * _Z_FILES),
                6,
            ).alias("skip_rate"),
        )

    return leg("partkey", pp, "min_partkey", "max_partkey").unionByName(
        leg("suppkey", sp, "min_suppkey", "max_suppkey")
    )


# ---------------------------------------------------------------------------
# Incremental join-view maintenance: the bilinear delta rule.
# ---------------------------------------------------------------------------

# V = agg(orders JOIN customer). Both inputs receive increments: orders
# arriving after the cutover date, customers "arriving late" (a seeded 5%
# slice — the dimension backfill case). The maintained view applies the
# bilinear delta rule instead of recomputing:
#   V' = agg( O_old x C_old  ∪  dO x C_full  ∪  O_old x dC )
# (dO x C_full covers both dO x C_old and dO x dC — the three-term form
# of the four-quadrant expansion). The oracle is the direct full join;
# the hash match proves the delta algebra. This is THE incremental-view
# primitive (DBSP / Materialize / Delta Live Tables): history is never
# re-joined — each delta term joins an increment against a snapshot.
_IVM_CUTOVER = "2001-01-01"  # orders before this are the base snapshot
_IVM_LATE_SEED = 31
_IVM_LATE_PCT = 5  # % of customers that arrive in the increment


def _ivm_oracle() -> str:
    return """
    SELECT n.n_name AS nation,
           CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
           count(*) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(25,2))) AS DOUBLE)
             AS total_price
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1, 2
    """


@register(
    "incremental_join_view_maintenance",
    oracle=_ivm_oracle(),
    description="Incremental join-view maintenance by the bilinear delta "
    "rule (the DBSP/Materialize primitive): the nation x month revenue "
    "view over orders JOIN customer is maintained under increments on "
    "BOTH inputs — orders past the cutover date and a seeded "
    f"{_IVM_LATE_PCT}% late-arriving customer slice — as base(O_old x "
    "C_old) merged with two delta terms (dO x C_full, O_old x dC); "
    "history is never re-joined. Partials are mergeable (count/decimal "
    "sum), so maintenance = union + re-aggregate at view grain, the "
    "rollup-merge shape. The oracle is the DIRECT full recompute; the "
    "hash match proves the delta algebra exact, including the cross "
    "quadrant (dO x dC rides inside dO x C_full). Scale: each delta "
    "term joins an increment against a snapshot with broadcast dims — "
    "the view updates in O(increment), the whole point of IVM at "
    "100 TB.",
    tags=("maintenance", "incremental", "join", "rollup", "scale"),
    bench=True,  # promoted r7 s6: the IVM delta-rule flagship
)
def incremental_join_view_maintenance(spark, sf_dir):
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_seeded,
    )

    o = T(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    late = (
        hash60_seeded(F.col("c_custkey").cast("string"), _IVM_LATE_SEED)
        % 100
        < _IVM_LATE_PCT
    )
    c_old, c_delta = c.filter(~late), c.filter(late)
    o_old = o.filter(F.col("o_orderdate") < _IVM_CUTOVER)
    o_delta = o.filter(F.col("o_orderdate") >= _IVM_CUTOVER)

    def partial(orders, customers):
        j = orders.join(
            customers, orders.o_custkey == customers.c_custkey
        ).join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        return j.groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", "o_orderdate")
            .cast("date")
            .alias("month"),
        ).agg(
            F.count("*").alias("n_orders"),
            F.sum(dec("o_totalprice", 25, 2)).alias("p_sum"),
        )

    base = partial(o_old, c_old)  # the stored snapshot's partials
    delta = partial(o_delta, c).unionByName(partial(o_old, c_delta))
    # maintenance = merge partials at view grain (sum counts, sum the
    # exact-decimal sums) — identical to rollup.merge_rollups' algebra
    return (
        base.unionByName(delta)
        .groupBy("nation", "month")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("p_sum").cast("double").alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# Merkle-style table diff: compare two table versions by per-bucket
# digests, drill into differing buckets only (anti-entropy repair /
# data-diff shape).
# ---------------------------------------------------------------------------

# Version B = version A with (a) the erasure users' rows deleted (the
# deletion_vector_cost_report sample) and (b) a seeded 3% of event_ids
# "restated" (props amended) — so the diff contains both row-missing and
# row-changed cases, and count equality alone cannot certify a bucket.
_DIFF_BUCKETS = 64
_DIFF_RESTATE_SEED = 41
_DIFF_RESTATE_PCT = 3


def _table_diff_oracle() -> str:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_duck,
    )

    hu = hash60_sql_duck("CAST(user_id AS VARCHAR)", seed=_DV_SEED)
    hr = hash60_sql_duck("CAST(event_id AS VARCHAR)", seed=_DIFF_RESTATE_SEED)
    hb = hash60_sql_duck("CAST(user_id AS VARCHAR)", seed=0)
    hc = hash60_sql_duck("content", seed=1)
    return f"""
    WITH a AS (
      SELECT event_id, {hb} % {_DIFF_BUCKETS} AS bucket,
             CAST(event_id AS VARCHAR) || ':' || coalesce(props, '')
               AS content
      FROM events
    ),
    b AS (
      SELECT event_id, {hb} % {_DIFF_BUCKETS} AS bucket,
             CAST(event_id AS VARCHAR) || ':' || coalesce(props, '')
               || CASE WHEN {hr} % 100 < {_DIFF_RESTATE_PCT}
                       THEN '#v2' ELSE '' END AS content
      FROM events
      WHERE {hu} % 100 >= {_DV_PCT}
    ),
    da AS (
      SELECT bucket, count(*) AS n_rows_a, bit_xor({hc}) AS dig_a
      FROM a GROUP BY bucket
    ),
    db AS (
      SELECT bucket, count(*) AS n_rows_b, bit_xor({hc}) AS dig_b
      FROM b GROUP BY bucket
    ),
    drill AS (
      SELECT coalesce(a.bucket, b.bucket) AS bucket,
             count(*) AS n_diff_keys
      FROM a FULL JOIN b ON b.event_id = a.event_id
      WHERE a.content IS DISTINCT FROM b.content
      GROUP BY 1
    )
    SELECT da.bucket,
           CAST(da.n_rows_a AS BIGINT) AS n_rows_a,
           CAST(coalesce(db.n_rows_b, 0) AS BIGINT) AS n_rows_b,
           (db.dig_b IS NOT DISTINCT FROM da.dig_a) AS digest_match,
           CAST(coalesce(d.n_diff_keys, 0) AS BIGINT) AS n_diff_keys
    FROM da
    LEFT JOIN db ON db.bucket = da.bucket
    LEFT JOIN drill d ON d.bucket = da.bucket
    """


@register(
    "table_diff_merkle",
    oracle=_table_diff_oracle(),
    description="Merkle-style table-version diff (the anti-entropy / "
    "data-diff shape): version B = events with the erasure sample's "
    "rows deleted AND a seeded 3% of rows restated (props amended), "
    "compared to version A by per-bucket ORDER-INDEPENDENT XOR digests "
    "of md5 row-content hashes, buckets keyed on the DISTRIBUTION key "
    "(user_id ranges — how replicas actually shard), so deletions stay "
    "local to the erased users' buckets while restatements scatter: "
    "count-equal buckets with differing digests exist and digests do "
    "the real work count reconciliation cannot (pinned by test), and the key-level drill joins "
    "ONLY the mismatched buckets (a semi-join on the failed-digest "
    "bucket list — the plan restriction IS the algorithm; the oracle "
    "drills everywhere and matched buckets provably contribute 0). At "
    "100 TB this is how two snapshots/replicas are compared without "
    "shipping either: exchange O(buckets) digests, repair O(differing "
    "partitions) — Cassandra repair, Iceberg snapshot verify, Datafold "
    "data-diff all run this loop.",
    tags=("maintenance", "lakehouse", "digest", "audit", "scale"),
    bench=True,  # promoted r7 s6: the anti-entropy digest flagship
)
def table_diff_merkle(spark, sf_dir):
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_seeded,
    )

    ev = T(spark, sf_dir, "events")
    content_a = F.concat(
        F.col("event_id").cast("string"),
        F.lit(":"),
        F.coalesce(F.col("props"), F.lit("")),
    )
    restated = (
        hash60_seeded(F.col("event_id").cast("string"), _DIFF_RESTATE_SEED)
        % 100
        < _DIFF_RESTATE_PCT
    )
    erased = (
        hash60_seeded(F.col("user_id").cast("string"), _DV_SEED) % 100
        < _DV_PCT
    )
    bucket = (
        hash60_seeded(F.col("user_id").cast("string"), 0) % _DIFF_BUCKETS
    )
    content_b = F.concat(
        content_a, F.when(restated, F.lit("#v2")).otherwise(F.lit(""))
    )
    a = ev.select(
        "event_id", bucket.alias("bucket"), content_a.alias("content")
    )
    b = ev.filter(~erased).select(
        "event_id", bucket.alias("bucket"), content_b.alias("content")
    )

    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_spark,
    )

    # Round-10 job-floor collapse (guide §2.4 / VERDICT r9 #4): both
    # versions' digests ride ONE events pass — version B is version A
    # minus the erased rows, so its count/digest are FILTER-clause
    # aggregates of the same row stream (empty B-groups yield NULL
    # dig_b / 0 n_rows_b, exactly what the old left join + coalesce
    # produced for missing buckets). Halves the digest scans and
    # removes the 64-row digest join + its persist.
    tagged = ev.select(
        bucket.alias("bucket"),
        content_a.alias("ca"),
        content_b.alias("cb"),
        (~erased).alias("in_b"),
    )
    cmp_ = (
        tagged.groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows_a"),
            F.expr(f"bit_xor({hash60_sql_spark('ca', seed=1)})").alias(
                "dig_a"
            ),
            F.expr("count(*) FILTER (WHERE in_b)")
            .cast("long")
            .alias("n_rows_b"),
            F.expr(
                f"bit_xor({hash60_sql_spark('cb', seed=1)})"
                " FILTER (WHERE in_b)"
            ).alias("dig_b"),
        )
        .select(
            "bucket",
            "n_rows_a",
            "n_rows_b",
            F.col("dig_b").eqNullSafe(F.col("dig_a")).alias("digest_match"),
        )
        .persist()  # consumed by the result AND the drill bucket list
    )
    bad = cmp_.filter(~F.col("digest_match")).select("bucket")
    # drill ONLY the mismatched buckets: both sides semi-join the
    # 64-row-max failed list before the key-level full outer join
    a_bad = a.join(F.broadcast(bad), "bucket", "left_semi")
    b_bad = b.join(F.broadcast(bad), "bucket", "left_semi")
    drill = (
        a_bad.withColumnRenamed("content", "ca")
        .join(
            b_bad.withColumnRenamed("content", "cb").withColumnRenamed(
                "bucket", "bucket_b"
            ),
            "event_id",
            "full",
        )
        .filter(~F.col("ca").eqNullSafe(F.col("cb")))
        .groupBy(
            F.coalesce("bucket", "bucket_b").alias("bucket")
        )
        .agg(F.count("*").alias("n_diff_keys"))
    )
    return cmp_.join(drill, "bucket", "left").select(
        "bucket",
        "n_rows_a",
        "n_rows_b",
        "digest_match",
        F.coalesce("n_diff_keys", F.lit(0)).cast("long").alias(
            "n_diff_keys"
        ),
    )


# ---------------------------------------------------------------------------
# The lakehouse maintenance planner capstone: one per-file manifest that
# prices compaction, deletion-vector writes, and copy-on-write rewrites
# together and picks the nightly action per file.
# ---------------------------------------------------------------------------

# Action policy, highest priority first (integer comparisons only):
#   rewrite_cow  — > 10% of rows deleted: DV overhead would be permanent
#                  read tax on a file that needs rewriting anyway
#   write_dv     — any deletions at all, but sparse: bitmap is cheaper
#                  than rewriting the survivors
#   compact      — clean file smaller than half the target: small-file tax
#   none         — healthy file
_PLAN_COW_PCT = 10


def _maint_planner_oracle() -> str:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_duck,
    )

    h = hash60_sql_duck("CAST(user_id AS VARCHAR)", seed=_DV_SEED)
    return f"""
    WITH tagged AS (
      SELECT event_type,
             {_FILE_DAY_SQL} AS day,
             {_FILE_RB_SQL} AS rb,
             {h} % 100 < {_DV_PCT} AS del
      FROM events
    ),
    f AS (
      SELECT event_type, day,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(rb) AS BIGINT) AS bytes,
             CAST(coalesce(sum(CASE WHEN del THEN 1 END), 0) AS BIGINT)
               AS n_deleted,
             CAST(sum(CASE WHEN NOT del THEN rb ELSE 0 END) AS BIGINT)
               AS surviving_bytes
      FROM tagged GROUP BY event_type, day
    ),
    t AS (
      SELECT greatest(CAST(sum(bytes) // {_COMPACT_BINS} AS BIGINT),
                      CAST(1 AS BIGINT)) AS tgt
      FROM f
    ),
    planned AS (
      SELECT f.*, t.tgt,
             CASE WHEN f.n_deleted * 100 > f.n_rows * {_PLAN_COW_PCT}
                    THEN 'rewrite_cow'
                  WHEN f.n_deleted > 0 THEN 'write_dv'
                  WHEN f.bytes * 2 < t.tgt THEN 'compact'
                  ELSE 'none' END AS action
      FROM f, t
    )
    SELECT event_type, day, n_rows, bytes, n_deleted,
           round(CAST(n_deleted AS DOUBLE) / n_rows, 6) AS deleted_frac,
           action,
           CAST(CASE action
                  WHEN 'rewrite_cow' THEN surviving_bytes
                  WHEN 'write_dv' THEN (n_rows + 7) // 8 + 32
                  WHEN 'compact' THEN bytes
                  ELSE 0 END AS BIGINT) AS est_io_bytes
    FROM planned
    """


@register(
    "lakehouse_maintenance_planner",
    oracle=_maint_planner_oracle(),
    description="The nightly maintenance planner capstone: one manifest "
    "pass prices the three lakehouse upkeep actions TOGETHER per "
    "(event_type, day) file — copy-on-write rewrite when deletions are "
    f"dense (> {_PLAN_COW_PCT}% of rows: a DV would be permanent read "
    "tax on a file that needs rewriting anyway), a deletion-vector "
    "write when they are sparse, compaction when a clean file is under "
    "half the corpus-derived target — and emits the chosen action with "
    "its estimated IO bill (survivor bytes / bitmap bytes / rewrite "
    "bytes). Composes compaction_bin_packing_plan's target and "
    "deletion_vector_cost_report's erasure accounting; the policy "
    "ordering is integer-exact (n_deleted*100 > n_rows*pct — no float "
    "thresholds). Shape: ONE map-side-combined aggregate builds the "
    "manifest, the policy is a per-row CASE over it; at 100 TB the "
    "planner reads table stats, not data, and every emitted action is "
    "an independent rewrite task.",
    tags=("maintenance", "lakehouse", "capstone", "scale"),
)
def lakehouse_maintenance_planner(spark, sf_dir):
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_seeded,
    )

    ev = T(spark, sf_dir, "events").select(
        "event_type",
        _file_day_col().alias("day"),
        _file_rb_col().alias("rb"),
        (
            hash60_seeded(F.col("user_id").cast("string"), _DV_SEED) % 100
            < _DV_PCT
        ).alias("del"),
    )
    f = ev.groupBy("event_type", "day").agg(
        F.count("*").alias("n_rows"),
        F.sum("rb").cast("long").alias("bytes"),
        F.coalesce(F.sum(F.when(F.col("del"), 1)), F.lit(0))
        .cast("long")
        .alias("n_deleted"),
        F.sum(F.when(~F.col("del"), F.col("rb")).otherwise(0))
        .cast("long")
        .alias("surviving_bytes"),
    ).persist()  # manifest-sized; read for the target scalar + the plan
    total = f.agg(F.sum("bytes")).collect()[0][0]  # scale-ok: 1 scalar (manifest total)
    tgt = max(int(total) // _COMPACT_BINS, 1)
    action = (
        F.when(
            F.col("n_deleted") * 100 > F.col("n_rows") * _PLAN_COW_PCT,
            F.lit("rewrite_cow"),
        )
        .when(F.col("n_deleted") > 0, F.lit("write_dv"))
        .when(F.col("bytes") * 2 < tgt, F.lit("compact"))
        .otherwise(F.lit("none"))
    )
    return f.withColumn("action", action).select(
        "event_type",
        "day",
        "n_rows",
        "bytes",
        "n_deleted",
        F.round(
            F.col("n_deleted").cast("double") / F.col("n_rows"), 6
        ).alias("deleted_frac"),
        "action",
        F.when(F.col("action") == "rewrite_cow", F.col("surviving_bytes"))
        .when(
            F.col("action") == "write_dv",
            F.expr("(n_rows + 7) div 8") + F.lit(32),
        )
        .when(F.col("action") == "compact", F.col("bytes"))
        .otherwise(0)
        .cast("long")
        .alias("est_io_bytes"),
    )


# ---------------------------------------------------------------------------
# Encoding-efficiency audit (round-9 third session): the sort-key /
# encoding advisor next to zorder_layout_plan. Parquet's RLE and
# dictionary encodings monetize RUNS and LOW CARDINALITY; whether a
# column compresses well under the CURRENT layout is a function of its
# run structure in write order, and the gap between runs-current and
# n_distinct (the best any sort could do for a scalar column) is the
# payoff a re-sort would buy. Run counting is kept fully distributed
# by measuring WITHIN-order runs (window partitioned by l_orderkey —
# the table's write-granularity key), deliberately excluding the
# cross-order boundary pairs: the definition is identical in the
# oracle, and at 100 TB it means no global sort and no single-partition
# window ever appears in the plan.
# ---------------------------------------------------------------------------

_ENC_COLS = (
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
    "l_quantity",
    "l_partkey",
)


def _enc_oracle() -> str:
    runs = ",\n             ".join(
        f"""CAST(sum(CASE WHEN prev_{c} IS NULL
                          OR {c} IS DISTINCT FROM prev_{c}
                     THEN 1 ELSE 0 END) AS BIGINT) AS runs_{c}"""
        for c in _ENC_COLS
    )
    order_by = "l_linenumber, " + ", ".join(_ENC_COLS)
    lags = ",\n             ".join(
        f"""lag({c}) OVER (PARTITION BY l_orderkey
                           ORDER BY {order_by}) AS prev_{c}"""
        for c in _ENC_COLS
    )
    dist = ",\n             ".join(
        f"CAST(count(DISTINCT {c}) AS BIGINT) AS nd_{c}"
        for c in _ENC_COLS
    )
    cells = " UNION ALL ".join(
        f"""SELECT '{c}' AS column_name, r.n_rows, d.nd_{c} AS n_distinct,
               r.runs_{c} AS n_runs FROM r CROSS JOIN d"""
        for c in _ENC_COLS
    )
    return f"""
    WITH lagged AS (
      SELECT l_orderkey, {", ".join(_ENC_COLS)},
             {lags}
      FROM lineitem
    ),
    r AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             {runs}
      FROM lagged
    ),
    d AS (
      SELECT {dist}
      FROM lineitem
    ),
    cells AS ({cells})
    SELECT column_name, n_rows, n_distinct, n_runs,
           {r6_sql("CAST(n_rows AS DOUBLE) / CAST(n_runs AS DOUBLE)")}
             AS avg_run_len,
           {r6_sql("CAST(n_distinct AS DOUBLE) / CAST(n_rows AS DOUBLE)")}
             AS distinct_ratio,
           {r6_sql("CAST(n_runs AS DOUBLE) / CAST(n_distinct AS DOUBLE)")}
             AS resort_gain_bound
    FROM cells
    """


@register(
    "encoding_efficiency_audit",
    oracle=_enc_oracle(),
    description="Encoding/sort-key advisor: per column, the run "
    "structure under the CURRENT write order (runs counted within "
    "each order — the write-granularity key — so the count stays "
    "fully distributed; boundary pairs excluded by definition on both "
    "engines) next to its distinct count, the floor any re-sort could "
    "reach for a scalar column. avg_run_len prices RLE under the "
    "current layout, distinct_ratio prices dictionary encoding, and "
    "resort_gain_bound = runs/distinct is the upper bound on run "
    "compression a sort on that column would buy — the quantitative "
    "input to choosing zorder_layout_plan's keys. Scale: one window "
    "pass partitioned by the table's own key (no global sort, no "
    "single-partition window), one multi-distinct aggregate, and a "
    "5-row report.",
    tags=("lakehouse", "layout", "encoding", "audit", "scale"),
)
def encoding_efficiency_audit(spark, sf_dir):
    from pyspark.sql import Window

    li = T(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in this corpus (11,785
    # duplicate pairs at sf0.01) — include every measured column in the
    # ORDER BY so the within-order ordering is total wherever a tie
    # could change a run count (rows tying on ALL ordering columns have
    # identical measured values, so their relative order is moot).
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", *_ENC_COLS
    )
    lagged = li.select(
        *_ENC_COLS,
        *[
            F.lag(c).over(w).alias(f"prev_{c}")
            for c in _ENC_COLS
        ],
    )
    r = lagged.agg(
        F.count("*").cast("long").alias("n_rows"),
        *[
            F.sum(
                F.when(
                    F.col(f"prev_{c}").isNull()
                    | ~F.col(c).eqNullSafe(F.col(f"prev_{c}")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"runs_{c}")
            for c in _ENC_COLS
        ],
    )
    d = li.agg(
        *[
            F.countDistinct(c).cast("long").alias(f"nd_{c}")
            for c in _ENC_COLS
        ]
    )
    grid = r.crossJoin(F.broadcast(d))  # scale-ok: 1-row x 1-row stats
    out = None
    for c in _ENC_COLS:
        piece = grid.selectExpr(
            f"'{c}' AS column_name",
            "n_rows",
            f"nd_{c} AS n_distinct",
            f"runs_{c} AS n_runs",
        )
        out = piece if out is None else out.unionByName(piece)
    return out.selectExpr(
        "column_name",
        "n_rows",
        "n_distinct",
        "n_runs",
        f"{r6_sql('CAST(n_rows AS DOUBLE) / CAST(n_runs AS DOUBLE)')}"
        " AS avg_run_len",
        f"{r6_sql('CAST(n_distinct AS DOUBLE) / CAST(n_rows AS DOUBLE)')}"
        " AS distinct_ratio",
        f"{r6_sql('CAST(n_runs AS DOUBLE) / CAST(n_distinct AS DOUBLE)')}"
        " AS resort_gain_bound",
    )
