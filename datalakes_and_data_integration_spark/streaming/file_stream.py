"""File-source Structured Streaming over the events table.

``Trigger.AvailableNow`` processes everything currently in the source and
stops — the streaming twin of the reference's daily batch (SURVEY.md §2.8):
the same code incrementally processes new files when they land, with
watermarks bounding state instead of the reference's re-fetch-3-days trick.

Scale: the aggregation state is (window x event_type) — tiny; the file
source lists incrementally (maxFilesPerTrigger governs batch size at 100 TB
backfill); watermark 2h bounds state growth for continuous runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.plans._util import T, dec, state_tmp


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, with the same nanos->timestamp
    normalization as the batch loader (_util.T)."""
    # Defensive for driver-built sessions (see plans/_util.T): nanos
    # timestamps are unreadable without this runtime-settable flag, and the
    # NTZ->instant normalization relies on a UTC session timezone.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # The file source wants a directory; select just the events file via
    # pathGlobFilter so sibling tables in sf_dir aren't picked up.
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    from datalakes_and_data_integration_spark.plans._util import _canonical_ts

    return _canonical_ts(stream)


def hourly_agg_stream(stream: DataFrame) -> DataFrame:
    """Watermarked 1-hour tumbling aggregate per event type."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(dec("value", 18, 6)), 4).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("window.start").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_available_now(
    agg: DataFrame,
    spark: SparkSession,
    name: str = "stream_out",
    output_mode: str = "complete",
) -> DataFrame:
    """Run the streaming query to completion (AvailableNow) into a memory
    sink and return the result as a batch DataFrame. The checkpoint is
    keyed by the sink ``name`` and wiped on entry (``state_tmp``), so
    every run starts from empty state and reruns reuse one dir."""
    checkpoint = state_tmp(f"ckpt_{name}")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def sliding_agg_stream(stream: DataFrame) -> DataFrame:
    """Watermarked 1-hour window sliding every 30 minutes, per event type.
    Every event lands in exactly two windows."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(dec("value", 18, 6)), 4).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def dedup_stream(stream: DataFrame) -> DataFrame:
    """Streaming key-dedup: first event per (user_id, event_type) within the
    watermark horizon — the streaming twin of the reference's LWT
    first-writer-wins (SURVEY.md §2.4 A2). Only the key columns are emitted
    so the result is deterministic regardless of which row arrives first."""
    return (
        stream.withWatermark("ts", "2 hours")
        .select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def dedup_within_watermark_stream(
    stream: DataFrame, delay: str = "2 hours"
) -> DataFrame:
    """Streaming key-dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes the key's last-seen event time plus ``delay`` — the
    state-TTL answer to ``dedup_stream``'s forever-growing key set (the
    operator a continuous 100 TB ingest needs; plain dropDuplicates state
    is unbounded).

    Semantics measured on this engine (pinned by
    tests/test_streaming_state.py): a duplicate arriving while the key's
    state is live is dropped AND extends the state's expiry; lookups
    within a micro-batch see entries past expiry but not yet cleaned
    (eviction runs against the watermark carried from the PREVIOUS
    batch), so a key re-emits only after a later batch has advanced the
    watermark past its expiry. Only the key columns are emitted, so the
    registered AvailableNow single-batch form (state never expires
    mid-batch) equals DISTINCT keys — the oracle."""
    return (
        stream.select("user_id", "event_type", "ts")
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def stateful_sessions_stream(stream: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful operator: gap-based sessionization with
    ``applyInPandasWithState`` — per-user session state survives across
    micro-batches, closed sessions are emitted when the gap passes or the
    stream ends.

    This is the operator class the reference cannot express at all (it has
    no streaming state, SURVEY.md §2.8); at scale, state is partitioned by
    user and bounded by the timeout, and the same code serves a continuous
    stream.
    """
    import pandas as pd  # noqa: PLC0415 - worker-side import
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    # NoTimeout: a session is emitted only when a later event closes it; each
    # user's open final session stays in state (in a continuous deployment a
    # ProcessingTimeTimeout would flush it — with AvailableNow the run ends
    # first, and the oracle counts all-but-the-last session per user).

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = (
        "user_id bigint, session_start timestamp, session_end timestamp, "
        "n_events bigint"
    )
    state_schema = "start bigint, end bigint, n bigint"

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        sessions = []
        if state.exists:
            cur_start, cur_end, cur_n = state.get
        else:
            cur_start = cur_end = cur_n = None
        # Accumulate the whole micro-batch before sorting: group rows can
        # arrive split across Arrow chunks in no guaranteed order.
        all_ts = [ts for pdf in pdf_iter for ts in pdf["ts"]]
        all_ts.sort()
        for ts in all_ts:
                us = int(ts.value // 1000)  # pandas ns -> µs
                if cur_start is None:
                    cur_start, cur_end, cur_n = us, us, 1
                elif us - cur_end > gap_us:
                    sessions.append((cur_start, cur_end, cur_n))
                    cur_start, cur_end, cur_n = us, us, 1
                else:
                    cur_end = us
                    cur_n += 1
        state.update((cur_start, cur_end, cur_n))
        if sessions:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(sessions),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in sessions],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in sessions],
                    "n_events": [n for _, _, n in sessions],
                }
            )

    return (
        stream.withWatermark("ts", "2 hours")
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def cusum_alert_stream(
    stream: DataFrame,
    thresholds: dict[str, tuple[int, int]],
    alert_factor: int = 2,
) -> DataFrame:
    """Custom stateful operator: ONLINE CUSUM drift alerts per event type
    via ``applyInPandasWithState`` — the sequential form of the batch
    ``cusum_changepoint`` family, emitting one scored row per (type, hour)
    as the stream advances instead of a retrospective argmax.

    ``thresholds`` maps event_type -> ``(n_hours, total_events)`` from the
    BATCH history (the trained-baseline pattern of threshold_alert_stream;
    a dim-sized driver literal because the state function cannot join).
    Per hour with count c, the deviation is ``d = n*c - total`` (the mean
    multiplied through — exact int64), and the classic one-sided CUSUMs
    use their running-extrema closed form::

        S+_t = cum_t - min(0, min_{j<=t} cum_j)   (= max(0, S+_{t-1} + d))
        S-_t = max(0, max_{j<=t} cum_j) - cum_t

    with an alert when S exceeds ``alert_factor * total`` (cumulative
    excess beyond ``alert_factor`` mean-hours). State per type is three
    int64s — O(1), the streaming-scale win over recomputing the batch
    statistic per check.

    Hours are processed in sorted order within each micro-batch; with
    ``Trigger.AvailableNow`` over a static source the single batch sees
    every hour, so the result equals the batch closed form (the oracle).
    Cross-batch behavior (state carrying cum/runmin/runmax forward) is
    pinned by tests/test_streaming_state.py with hour-ordered batches.
    """
    import pandas as pd  # noqa: PLC0415 - worker-side import
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    out_schema = (
        "event_type string, hour timestamp, n_events bigint, "
        "cusum_pos bigint, cusum_neg bigint, "
        "alert_pos boolean, alert_neg boolean"
    )
    state_schema = "cum bigint, runmin bigint, runmax bigint"

    def fn(key, pdf_iter, state: GroupState):
        (event_type,) = key
        n, tot = thresholds.get(event_type, (0, 0))
        cum, runmin, runmax = state.get if state.exists else (0, 0, 0)
        counts: dict[int, int] = {}
        for pdf in pdf_iter:
            hours = pdf["ts"].dt.floor("h")
            for us, c in hours.value_counts().items():
                k = int(us.value // 1000)  # pandas ns -> µs
                counts[k] = counts.get(k, 0) + int(c)
        rows = []
        for hour_us in sorted(counts):
            c = counts[hour_us]
            cum += n * c - tot
            runmin = min(runmin, cum)
            runmax = max(runmax, cum)
            s_pos = cum - runmin
            s_neg = runmax - cum
            rows.append(
                (
                    hour_us,
                    c,
                    s_pos,
                    s_neg,
                    s_pos > alert_factor * tot,
                    s_neg > alert_factor * tot,
                )
            )
        state.update((cum, runmin, runmax))
        if rows:
            yield pd.DataFrame(
                {
                    "event_type": [event_type] * len(rows),
                    "hour": [pd.Timestamp(h, unit="us") for h, *_ in rows],
                    "n_events": [r[1] for r in rows],
                    "cusum_pos": [r[2] for r in rows],
                    "cusum_neg": [r[3] for r in rows],
                    "alert_pos": [r[4] for r in rows],
                    "alert_neg": [r[5] for r in rows],
                }
            )

    return (
        stream.withWatermark("ts", "2 hours")
        .select("event_type", "ts")
        .groupBy("event_type")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def purchases_with_recent_click_stream(
    stream: DataFrame, how: str = "inner"
) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's clicks in the preceding 30 minutes. Both sides are watermarked
    so the join state is bounded (clicks older than the interval +
    watermark are evicted) — the canonical Structured Streaming interval
    join.

    ``how="left_outer"`` additionally emits click-less purchases — but
    only once the watermark proves no match can still arrive, i.e. when
    the global watermark (min of both sides' max event time, ms-floored,
    minus the 1h delay) passes the purchase's event time; purchases
    above the final watermark stay in state unemitted at end-of-replay.
    Measured emission rule (pinned by the registered oracle): unmatched
    row emitted iff purchase_ts < final watermark."""
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") < F.col("purchase_ts")),
        how,
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "click_id",
        "click_ts",
    )


def static_enriched_stream(
    stream: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-static join: the event stream enriched against the batch
    customer->nation dimensions, then a watermarked hourly aggregate per
    nation. The static side is re-read per micro-batch (so a dim update is
    picked up on the next trigger) and broadcast — no streaming state for
    the join itself; only the (hour x nation) aggregate keeps state."""
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dims = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "n_name"
    )
    return (
        stream.withWatermark("ts", "2 hours")
        .join(F.broadcast(dims), stream.user_id == dims.c_custkey)
        .groupBy(F.window("ts", "1 hour"), F.col("n_name"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(dec("value", 18, 6)), 4)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("hour"),
            F.col("n_name").alias("nation"),
            "n_events",
            "total_value",
        )
    )


def threshold_alert_stream(
    stream: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming anomaly alerts: watermarked hourly totals per event type,
    flagged against mean +- 3 sigma thresholds computed from the BATCH
    history (a 1-row-per-type broadcast — the trained-baseline pattern:
    the model is static per deployment, the stream is scored live).
    Threshold arithmetic routes through decimal-exact sums so the alert
    boundary is reproducible."""
    hourly_hist = (
        T(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )
    # Decimal-exact moment sums (rounded once) -> identical mu/sigma on
    # any partitioning; avg/stddev_pop stream floats in partition order.
    thresholds = (
        hourly_hist.groupBy("event_type")
        .agg(
            F.count("*").alias("k"),
            F.round(F.sum(F.expr("CAST(n AS DECIMAL(27,6))")), 6)
            .cast("double")
            .alias("s1"),
            F.round(F.sum(F.expr("CAST(n * n AS DECIMAL(27,6))")), 6)
            .cast("double")
            .alias("s2"),
        )
        .select(
            "event_type",
            (F.col("s1") / F.col("k")).alias("mu"),
            F.sqrt(
                F.greatest(
                    F.col("s2") / F.col("k")
                    - (F.col("s1") / F.col("k")) * (F.col("s1") / F.col("k")),
                    F.lit(0.0),
                )
            ).alias("sigma"),
        )
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("hour"), "event_type", "n_events"
        )
    )
    return agg.join(F.broadcast(thresholds), "event_type").select(
        "hour",
        "event_type",
        "n_events",
        (
            (F.col("n_events") > F.col("mu") + 3 * F.col("sigma"))
            | (F.col("n_events") < F.col("mu") - 3 * F.col("sigma"))
        ).alias("is_alert"),
    )


def hourly_fixed_stream(stream: DataFrame) -> DataFrame:
    """Watermarked hourly value totals in int64 fixed point (value x 1e6)
    — the exact mergeable measure a streaming-fed drift detector consumes
    (unlike the display-rounded ``hourly_agg_stream``, nothing is lost to
    rounding, so downstream statistics match the batch computation
    bit-for-bit)."""
    return (
        stream.filter(F.col("value").isNotNull())
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            (F.sum(dec("value", 18, 6)) * 1000000)
            .cast("long")
            .alias("h")
        )
        .select(F.col("window.start").alias("hour"), "event_type", "h")
    )


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet (same pathGlobFilter trick
    as events_stream — the file source wants a directory)."""
    batch = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def decontamination_gate_stream(
    stream: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Online eval-leakage admission gate: incoming TRAIN-split documents
    are flagged when they share a word 8-shingle digest with the static
    val/test corpus — the streaming inverse of the batch
    split_decontamination_report (that one decontaminates the EVAL side
    after the fact; this one stops eval content entering TRAINING as it
    arrives). Stream-static inner join on md5 digests: the eval digest
    set is dim-like (distinct 8-shingle digests of the 20% eval split),
    re-read per micro-batch and broadcast by AQE, so the join keeps NO
    streaming state; the only state is dropDuplicates on the flagged
    doc ids (bounded by the contaminated-doc count — at 100 TB add a
    processing-time watermark + dropDuplicatesWithinWatermark if flagged
    ids must expire). Emits contaminated train doc_ids, append mode.
    """
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_spark,
    )
    from datalakes_and_data_integration_spark.functions.text import (
        shingles_expr_spark,
        tokens_sql_spark,
    )

    _tok = tokens_sql_spark()
    bucket = (
        F.expr(hash60_sql_spark("CAST(doc_id AS STRING)", seed=7)) % 100
    )
    shing = shingles_expr_spark("toks", 8)

    # Static side: the eval split's distinct shingle digests (batch read,
    # re-evaluated per trigger so an eval-set refresh lands without a
    # restart).
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    eval_digests = (
        docs.select("doc_id", F.expr(_tok).alias("toks"))
        .filter(bucket >= 80)
        .select(F.explode(F.expr(shing)).alias("g"))
        .select(F.md5("g").alias("dg"))
        .distinct()
    )

    # Repartition the narrow (doc_id, toks) pair before the shingle
    # explode — the text-family single-split rule (plans/_util.spread):
    # a one-file micro-batch otherwise runs all tokenize/shingle/hash
    # work on one task. Streams can't inspect partition counts, so the
    # exchange is unconditional; it ships the narrow pair, never text
    # twice.
    n_part = min(int(spark.conf.get("spark.sql.shuffle.partitions")), 64)
    train = (
        stream.filter(bucket < 80)
        .select("doc_id", F.expr(_tok).alias("toks"))
        .repartition(n_part, "doc_id")
    )
    train_digests = train.select(
        "doc_id", F.explode(F.expr(shing)).alias("g")
    ).select("doc_id", F.md5("g").alias("dg"))
    return (
        train_digests.join(eval_digests, "dg")
        .select("doc_id")
        .dropDuplicates(["doc_id"])
    )
