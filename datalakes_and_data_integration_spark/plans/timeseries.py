"""Time-series queries: the analytical heart of the reference's curated zone
(SURVEY.md §2.5), rebuilt as per-key time-ordered windows.

The reference shifts positionally over an unspecified global row order
(process_to_curated.py:109-157); these implement the *intended* semantics —
`lag(n)` over Window.partitionBy(user).orderBy(ts, id) — as SURVEY.md §7.4
prescribes, with the same fillna quirks (diff backfills the first n rows with
0; pct-change leaves them null).

All window queries share one window spec, so a pipeline combining them
shuffles exactly once on user_id.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.operators import (
    ffill,
    horizontal_sum,
    impute_mean,
    lag_diff,
    lag_pct_change,
)
from datalakes_and_data_integration_spark.operators.windows import ordered_window
from datalakes_and_data_integration_spark.plans._util import (
    PRICE,
    T,
    dec,
    r6,
    r6_sql,
)
from datalakes_and_data_integration_spark.plans.registry import register

_W_SQL = "PARTITION BY user_id ORDER BY ts, event_id"


def _w():
    return ordered_window(["user_id"], [F.col("ts"), F.col("event_id")])


# ---------------------------------------------------------------------------
# W1 — lag-6 difference with first-rows-backfill.
# ---------------------------------------------------------------------------


@register(
    "lag6_diff",
    oracle=f"""
    SELECT event_id, user_id, ts, value,
           value - COALESCE(lag(value, 6) OVER ({_W_SQL}), value) AS diff_6
    FROM events
    """,
    description="Per-user 6-step lag difference; rows without a 6-back "
    "predecessor diff against themselves -> 0 (reference W1 fillna, "
    "process_to_curated.py:123-129).",
    tags=("window", "timeseries", "parity"),
    bench=True,
)
def lag6_diff(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return ev.select(
        "event_id", "user_id", "ts", "value", lag_diff("value", _w()).alias("diff_6")
    )


# ---------------------------------------------------------------------------
# W2 — lag-6 percent change (first rows stay null).
# ---------------------------------------------------------------------------


@register(
    "lag6_pct_change",
    oracle=f"""
    SELECT event_id, user_id, ts, value,
           (value - lag(value, 6) OVER ({_W_SQL}))
             / lag(value, 6) OVER ({_W_SQL}) * 100 AS pct_change_6
    FROM events
    """,
    description="Per-user 6-step percent change; no backfill — first 6 rows "
    "per key are null (reference W2, process_to_curated.py:148-152).",
    tags=("window", "timeseries", "parity"),
)
def lag6_pct_change(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        lag_pct_change("value", _w()).alias("pct_change_6"),
    )


# ---------------------------------------------------------------------------
# W4 — ordered forward-fill then backward-fill.
# Values are deterministically nulled (error events) to create gaps, mirroring
# the reference's missing unit cells (process_to_curated.py:48-54).
# ---------------------------------------------------------------------------


@register(
    "ffill_bfill",
    oracle=f"""
    WITH nulled AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_id, user_id, ts, v,
           COALESCE(
             last_value(v IGNORE NULLS) OVER
               ({_W_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             first_value(v IGNORE NULLS) OVER
               ({_W_SQL} ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           ) AS v_filled
    FROM nulled
    """,
    description="Per-user ordered forward-then-backward fill over gapped values "
    "(reference W4 unit-column fill, rebuilt per-key as §7.4 prescribes).",
    tags=("window", "timeseries", "parity"),
)
def ffill_bfill(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    nulled = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    w = _w()
    # backward fill: ffill over the exact reverse of the forward order
    # (total: event_id breaks ts ties; see ffill)
    w_rev = ordered_window(
        ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return nulled.select(
        "event_id",
        "user_id",
        "ts",
        "v",
        F.coalesce(ffill("v", w), ffill("v", w_rev)).alias("v_filled"),
    )


# ---------------------------------------------------------------------------
# A3/F6 — global mean imputation (computed over non-null values, applied as a
# literal — one aggregate pass + a narrow projection, reference
# process_to_curated.py:98-106).
# ---------------------------------------------------------------------------


@register(
    "mean_impute",
    oracle="""
    WITH nulled AS (
      SELECT event_id,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_id,
           COALESCE(v, (SELECT CAST(sum(CAST(v AS DECIMAL(25,6))) AS DOUBLE)
                               / count(v) FROM nulled)) AS v_imputed
    FROM nulled
    """,
    description="Fill nulls with the global column mean (reference A3/F6; "
    "mean as exact decimal sum / count).",
    tags=("aggregate", "impute", "parity"),
)
def mean_impute(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    nulled = ev.select(
        "event_id",
        F.when(F.col("event_type") == "error", F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    return impute_mean(nulled, ["v"]).select(
        "event_id", F.col("v").alias("v_imputed")
    )


# ---------------------------------------------------------------------------
# F4/F5/A4 — unit-map conversion (unmapped -> null) + horizontal NaN-skipping
# total across the per-type converted sums (the curated-zone wide shape).
# ---------------------------------------------------------------------------

_FACTORS = {"click": "0.001", "purchase": "1.0", "signup": "0.001", "view": "0.000001"}
# 'error' deliberately unmapped -> null (reference F4: the µg/m3 variant,
# process_to_curated.py:35-39).
_TYPES = ["click", "error", "purchase", "signup", "view"]


def _convert_oracle():
    sums = []
    for t in _TYPES:
        if t in _FACTORS:
            sums.append(
                f"CAST(ROUND(sum(CASE WHEN event_type = '{t}' THEN "
                f"CAST(value AS DECIMAL(18,6)) * CAST({_FACTORS[t]} AS DECIMAL(9,6)) "
                f"END), 4) AS DOUBLE) AS {t}_total"
            )
        else:
            sums.append(f"CAST(NULL AS DOUBLE) AS {t}_total")
    cols = ", ".join(sums)
    co = " + ".join(f"COALESCE({t}_total, 0.0)" for t in _TYPES)
    notnull = " OR ".join(f"{t}_total IS NOT NULL" for t in _TYPES)
    return f"""
    WITH per_user AS (
      SELECT user_id, {cols}
      FROM events GROUP BY user_id
    )
    SELECT user_id, {', '.join(t + '_total' for t in _TYPES)},
           CASE WHEN {notnull} THEN {co} ELSE NULL END AS grand_total
    FROM per_user
    """


@register(
    "unit_convert_horizontal_total",
    oracle=_convert_oracle(),
    description="Unit-factor map conversion with unmapped-type->null "
    "(reference F4/F5) and row-wise NaN-skipping total across the converted "
    "column group (reference A4 horizontal sum).",
    tags=("convert", "horizontal", "parity"),
)
def unit_convert_horizontal_total(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    # Same shape as gold's ``value * unit_factor(...)``, but with decimal
    # factor literals so per-type sums are exact (unit_factor's double
    # factors are the production path; the decimal form is the
    # oracle-exact one).
    conv = ev.select(
        "user_id",
        "event_type",
        *[
            F.when(
                F.col("event_type") == t,
                dec("value", 18, 6) * F.lit(_FACTORS[t]).cast("decimal(9,6)"),
            ).alias(f"_{t}")
            for t in _FACTORS
        ],
    )
    agg = conv.groupBy("user_id").agg(
        *[
            F.round(F.sum(f"_{t}"), 4).cast("double").alias(f"{t}_total")
            if t in _FACTORS
            else F.lit(None).cast("double").alias(f"{t}_total")
            for t in _TYPES
        ]
    )
    return agg.withColumn(
        "grand_total", horizontal_sum([f"{t}_total" for t in _TYPES])
    )


# ---------------------------------------------------------------------------
# Sessionization — gap-based sessions (engine surface the reference lacks;
# the natural streaming-state analogue of its time-series zone).
# ---------------------------------------------------------------------------

_GAP_MS = 30 * 60 * 1000


@register(
    "sessionization",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER ({_W_SQL})
                       > {_GAP_MS}
                  OR lag(epoch_ms(ts)) OVER ({_W_SQL}) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             CAST(sum(is_new) OVER ({_W_SQL}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM numbered
    GROUP BY user_id, session_id
    """,
    description="Gap-based sessionization (30-min inactivity): lag + running "
    "sum to assign session ids, then per-session aggregates.",
    tags=("window", "timeseries", "session"),
    bench=True,
)
def sessionization(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = _w()
    ms = F.unix_millis("ts")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (ms - F.lag(ms).over(w) > _GAP_MS) | F.lag(ms).over(w).isNull(),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_new"),
    )
    from pyspark.sql import Window

    numbered = flagged.select(
        "user_id",
        "ts",
        F.sum("is_new")
        .over(_w().rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# ---------------------------------------------------------------------------
# Tumbling-window aggregate — hourly rollup per event type (batch twin of the
# streaming query in plans/streaming_queries.py).
# ---------------------------------------------------------------------------


@register(
    "tumbling_hourly_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n_events,
           CAST(ROUND(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    description="Hourly tumbling-window aggregate per event type (exact "
    "decimal totals); batch twin of the Structured Streaming variant.",
    tags=("window", "timeseries", "streaming-twin"),
    bench=True,
)
def tumbling_hourly_agg(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(dec("value", 18, 6)), 4).cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Gap-fill + last-observation-carried-forward: a dense hourly spine per user
# with locf'd purchase values (TimescaleDB time_bucket_gapfill/locf shape —
# the continuous-aggregate operator class the reference's TimescaleDB sink
# implies but never uses).
# ---------------------------------------------------------------------------


@register(
    "gapfill_hourly_locf",
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             CAST(ROUND(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS v
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY user_id, date_trunc('hour', ts)
    ),
    bounds AS (
      SELECT user_id, min(hour) AS lo, max(hour) AS hi FROM hourly
      GROUP BY user_id
    ),
    spine AS (
      SELECT b.user_id, unnest(generate_series(b.lo, b.hi,
                                               INTERVAL 1 HOUR)) AS hour
      FROM bounds b
    )
    SELECT s.user_id, s.hour,
           h.v AS v_raw,
           last_value(h.v IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf
    FROM spine s
    LEFT JOIN hourly h ON h.user_id = s.user_id AND h.hour = s.hour
    """,
    description="Dense hourly spine per user (sequence + explode between "
    "each user's min and max purchase hour) left-joined to the sparse "
    "hourly sums, gaps filled by last-observation-carried-forward — the "
    "TimescaleDB gapfill/locf shape on native Spark (no UDF: sequence(), "
    "explode, window last(ignorenulls)).",
    tags=("timeseries", "gapfill", "window"),
    bench=True,
)
def gapfill_hourly_locf(spark, sf_dir):
    ev = T(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.round(F.sum(dec("value", 18, 6)), 4).cast("double").alias("v"))
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    joined = spine.join(hourly, ["user_id", "hour"], "left_outer")
    w = ordered_window(["user_id"], [F.col("hour")])
    return joined.select(
        "user_id",
        "hour",
        F.col("v").alias("v_raw"),
        ffill("v", w).alias("v_locf"),
    )


# ---------------------------------------------------------------------------
# Range-frame rolling window: per-user 1-hour trailing sum (RANGE frame over
# event time, not row counts).
# ---------------------------------------------------------------------------


@register(
    "rolling_1h_value_sum",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(ROUND(sum(CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ), 4) AS DOUBLE) AS value_1h
    FROM events
    """,
    description="Per-user trailing 1-hour value sum with a RANGE window "
    "frame (time-based, not row-count-based): Spark orders on unix "
    "microseconds with rangeBetween(-1h, 0) — exact decimal sum so frame "
    "membership and totals match the oracle bit-for-bit.",
    tags=("window", "range-frame", "timeseries"),
)
def rolling_1h_value_sum(spark, sf_dir):
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    hour_us = 3_600 * 1_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-hour_us, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum(dec("value", 18, 6)).over(w), 4)
        .cast("double")
        .alias("value_1h"),
    )


# ---------------------------------------------------------------------------
# ntile: spend quartiles per customer.
# ---------------------------------------------------------------------------


@register(
    "customer_spend_quartiles",
    oracle="""
    SELECT c_custkey, total_spent, quartile FROM (
      SELECT c_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE)
               AS total_spent,
             ntile(4) OVER (
               ORDER BY CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE)
                        DESC, c_custkey
             ) AS quartile
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    """,
    description="Customer lifetime-spend quartiles with exact ntile(4) "
    "semantics, computed WITHOUT a global window: range-partition on the "
    "total order, rank locally per partition, add per-partition offsets "
    "(a |partitions|-row aggregate joined back), and map the global rank "
    "through ntile's first-r-buckets-get-one-extra rule. The oracle is "
    "plain ntile(4); the distributed rank must be indistinguishable.",
    tags=("window", "ntile", "aggregate", "distributed-rank"),
)
def customer_spend_quartiles(spark, sf_dir):
    from pyspark.sql import Window

    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    spend = (
        o.join(c, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey")
        .agg(F.sum(dec("o_totalprice", *PRICE)).cast("double").alias("total_spent"))
    )
    # Two-level global rank. persist() pins one set of range boundaries so
    # the offsets branch and the main branch see the same partitioning
    # (RangePartitioner samples per job; the exchange is also reusable).
    parts = (
        spend.repartitionByRange(
            32, F.col("total_spent").desc(), F.col("c_custkey")
        )
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    wl = Window.partitionBy("__pid").orderBy(
        F.col("total_spent").desc(), F.col("c_custkey")
    )
    ranked = parts.withColumn("__lrank", F.row_number().over(wl))
    counts = parts.groupBy("__pid").agg(F.count("*").alias("__cnt"))
    # scale-ok: global window over one row PER RANGE PARTITION (|parts| rows)
    wo = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__cnt").over(wo), F.lit(0)).alias("__off")
    )
    tot = counts.agg(F.sum("__cnt").alias("__n"))
    with_rank = (
        ranked.join(F.broadcast(offsets), "__pid")
        .crossJoin(F.broadcast(tot))  # scale-ok: 1-row total
        .withColumn("__rank", F.col("__lrank") + F.col("__off"))
    )
    # Exact ntile(k) distribution: q = n div k, r = n mod k; the first r
    # buckets hold q+1 rows, the rest q. (floor((rank-1)*k/n)+1 is NOT
    # ntile — it splits remainders evenly, not front-loaded.)
    q = F.floor(F.col("__n") / 4).cast("long")
    r = F.col("__n") % 4
    big = r * (q + F.lit(1))
    quartile = F.when(
        F.col("__rank") <= big, F.ceil(F.col("__rank") / (q + F.lit(1)))
    ).otherwise(r + F.ceil((F.col("__rank") - big) / q))
    return with_rank.select(
        "c_custkey",
        "total_spent",
        quartile.cast("int").alias("quartile"),
    )


# ---------------------------------------------------------------------------
# Gapfill by LINEAR INTERPOLATION — the other TimescaleDB gapfill mode
# next to gapfill_hourly_locf (locf holds the level; interpolate draws
# the line — right for continuous quantities, wrong for step states).
# Same dense spine; interior gaps take
#     prev + (next - prev) * (t - t_prev) / (t_next - t_prev)
# where the fraction is a correctly-rounded division of exact int64
# epoch seconds and prev/next are the already-rounded hourly doubles —
# all deterministic IEEE ops; the display value is decimal-routed. The
# spine spans each user's observed range, so every gap is interior and
# both neighbors exist.
# ---------------------------------------------------------------------------


@register(
    "gapfill_hourly_interpolate",
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             CAST(ROUND(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS v
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY user_id, date_trunc('hour', ts)
    ),
    bounds AS (
      SELECT user_id, min(hour) AS lo, max(hour) AS hi FROM hourly
      GROUP BY user_id
    ),
    spine AS (
      SELECT b.user_id, unnest(generate_series(b.lo, b.hi,
                                               INTERVAL 1 HOUR)) AS hour
      FROM bounds b
    ),
    ctx AS (
      SELECT s.user_id, s.hour, h.v AS v_raw,
             last_value(h.v IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN h.v IS NOT NULL THEN epoch(s.hour) END
                        IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             first_value(h.v IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.hour
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN h.v IS NOT NULL THEN epoch(s.hour) END
                         IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.hour
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM spine s
      LEFT JOIN hourly h ON h.user_id = s.user_id AND h.hour = s.hour
    )
    SELECT user_id, hour, v_raw,
           CAST(ROUND(CAST(
             CASE WHEN v_raw IS NOT NULL THEN v_raw
                  ELSE pv + (nv - pv)
                       * (CAST(epoch(hour) - pt AS DOUBLE) / (nt - pt))
             END AS DECIMAL(27,12)), 6) AS DOUBLE) AS v_interp
    FROM ctx
    """,
    description="Dense hourly spine per user with gaps filled by linear "
    "interpolation between the neighboring observations — the other "
    "TimescaleDB gapfill mode next to gapfill_hourly_locf (interpolate "
    "draws the line; locf holds the level). The fraction is a correctly "
    "rounded division of exact int64 epoch seconds; prev/next are the "
    "already-rounded hourly doubles, so the arithmetic is deterministic "
    "IEEE on both engines; decimal-routed display. The spine spans each "
    "user's observed range, so every gap has both neighbors.",
    tags=("timeseries", "gapfill", "window"),
)
def gapfill_hourly_interpolate(spark, sf_dir):
    ev = T(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.round(F.sum(dec("value", 18, 6)), 4).cast("double").alias("v")
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    joined = spine.join(hourly, ["user_id", "hour"], "left").select(
        "user_id", "hour", F.col("v").alias("v_raw")
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The NEXT-observation pair runs over the REVERSED order as a running
    # last(ignorenulls), not first(ignorenulls) over a current-row ->
    # unbounded-following frame: Spark re-scans the rest of the partition
    # for every row under an unbounded-following frame — O(spine x
    # per-user hours), measured 108 s -> 11.7 s on the 9.2M-row 1m-event
    # spine (round-6 events ladder) with byte-identical output. `hour` is
    # unique per user on the spine, so the reversal is exact.
    wr = (
        Window.partitionBy("user_id")
        .orderBy(F.col("hour").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    et = F.unix_timestamp("hour")
    obs_t = F.when(F.col("v_raw").isNotNull(), et)
    ctx = joined.select(
        "user_id",
        "hour",
        "v_raw",
        F.last("v_raw", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_t, ignorenulls=True).over(wp).alias("pt"),
        F.last("v_raw", ignorenulls=True).over(wr).alias("nv"),
        F.last(obs_t, ignorenulls=True).over(wr).alias("nt"),
    )
    interp = F.when(F.col("v_raw").isNotNull(), F.col("v_raw")).otherwise(
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * (
            (et - F.col("pt")).cast("double")
            / (F.col("nt") - F.col("pt"))
        )
    )
    return ctx.select(
        "user_id",
        "hour",
        "v_raw",
        r6(interp).alias("v_interp"),
    )


# ---------------------------------------------------------------------------
# Watermark-lateness profile: the event-time disorder diagnostic that picks
# a Structured Streaming watermark delay.
#
# The parquet corpus is perfectly time-ordered (event_id order == ts order,
# measured: 0 late rows), so the arrival process is SYNTHESIZED: each event
# arrives delay = md5-hash(event_id) % 600 seconds after its event time —
# a deterministic stand-in for network/ingest delay, identical in both
# engines. The OPERATOR is the real deliverable: per-event lateness =
# (max event time seen at arrival) - (own event time), then the
# candidate-watermark table — for each delay D, how many events a
# `withWatermark(ts, D)` stream would drop. That table is exactly what you
# read before pinning a production watermark.
#
# Scale: lateness needs a GLOBAL prefix max over arrival order — a
# single-reducer sort if done naively. This is the two-pass bucketed form
# (the token_budget_mixture_sample / zorder_layout_plan proof pattern):
# buckets = arrival HOUR (time-bounded, ~720/month, NOT data-bounded), the
# cross-bucket prefix max runs on the tiny per-bucket frame (broadcast),
# and the within-bucket running max shuffles once on the bucket key.
# (bucket, arrival) order IS arrival order because the bucket is the
# arrival hour. The oracle is the naive one-window definition; the
# driver's hash match is the equivalence proof.
# ---------------------------------------------------------------------------

_WM_SEED = 23
_WM_DELAY_MOD = 600  # injected arrival delay in [0, 600) seconds
_WM_CANDIDATES = [0, 30, 60, 120, 300, 600]  # watermark delays to price
_WM_BUCKET_US = 3_600_000_000  # 1 hour of microseconds


def _wm_lateness_oracle() -> str:
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_sql_duck,
    )

    h = hash60_sql_duck("CAST(event_id AS VARCHAR)", _WM_SEED)
    drops = ", ".join(
        f"CAST(sum(CASE WHEN late_us > {d * 1_000_000} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS d{d}"
        for d in _WM_CANDIDATES
    )
    rows = " UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS wm_delay_s, n AS n_events,"
        f" d{d} AS n_dropped, CAST(1000 * d{d} // n AS BIGINT)"
        f" AS drop_per_mille, mx_s AS max_lateness_s FROM agg"
        for d in _WM_CANDIDATES
    )
    return f"""
    WITH e AS (
      SELECT event_id, epoch_us(ts) AS t,
             epoch_us(ts) + ({h} % {_WM_DELAY_MOD}) * 1000000 AS a
      FROM events
    ),
    l AS (
      SELECT t,
             greatest(coalesce(max(t) OVER (
               ORDER BY a, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), t), t) - t
               AS late_us
      FROM e
    ),
    agg AS (
      SELECT count(*) AS n, {drops},
             CAST(max(late_us) // 1000000 AS BIGINT) AS mx_s
      FROM l
    )
    {rows}
    """


@register(
    "watermark_lateness_profile",
    oracle=_wm_lateness_oracle(),
    description="Event-time disorder diagnostic for watermark tuning: each "
    "event's lateness = max event time already arrived minus its own event "
    "time, under a deterministic md5-injected arrival delay (the corpus "
    "itself ships perfectly ordered — the arrival process is a declared "
    "synthetic stand-in; the operator is the deliverable). Output prices "
    "each candidate watermark delay by the events it would drop — the "
    "table read before pinning withWatermark() in production. The global "
    "prefix max is the two-pass bucketed form (arrival-hour buckets, "
    "cross-bucket offsets on the tiny bucket frame, running max only "
    "within buckets); the oracle is the naive one-window definition, so "
    "the hash match proves the two-pass equivalence. All integers.",
    tags=("streaming", "watermark", "temporal", "two-pass", "llm-pipeline"),
    bench=True,  # promoted r7 s5: the streaming-design flagship
)
def watermark_lateness_profile(spark, sf_dir):
    from datalakes_and_data_integration_spark.functions.hashing import (
        hash60_seeded,
    )

    e = T(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("t"),
        (
            F.unix_micros("ts")
            + (
                hash60_seeded(F.col("event_id").cast("string"), _WM_SEED)
                % _WM_DELAY_MOD
            )
            * 1_000_000
        ).alias("a"),
    )
    e = e.withColumn("bucket", F.expr(f"a div {_WM_BUCKET_US}L"))
    # Pass 1: per-bucket max event time -> prefix max over PRIOR buckets
    # (tiny, time-bounded frame; broadcast back).
    wb = (
        Window.orderBy("bucket")  # scale-ok: per-hour bucket frame, time-bounded (~720 rows/month), never data-sized
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = F.broadcast(
        e.groupBy("bucket")
        .agg(F.max("t").alias("bmax"))
        .withColumn("prior", F.max("bmax").over(wb))
        .select("bucket", "prior")
    )
    # Pass 2: running max WITHIN each bucket only.
    ww = (
        Window.partitionBy("bucket")
        .orderBy("a", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # seen = max(prior-bucket max, within-bucket running max, own t);
    # greatest skips the nulls at the first row / first bucket, and the
    # own-t term supplies the lateness-0 floor.
    late = (
        e.join(offsets, "bucket")
        .withColumn(
            "seen",
            F.greatest(F.max("t").over(ww), F.col("prior"), F.col("t")),
        )
        .select((F.col("seen") - F.col("t")).alias("late_us"))
    )
    agg = late.agg(
        F.count("*").alias("n"),
        *[
            F.sum(
                F.when(F.col("late_us") > d * 1_000_000, 1).otherwise(0)
            )
            .cast("long")
            .alias(f"d{d}")
            for d in _WM_CANDIDATES
        ],
        F.expr("CAST(max(late_us) div 1000000 AS BIGINT)").alias("mx_s"),
    )
    stack = ", ".join(
        f"CAST({d} AS BIGINT), d{d}" for d in _WM_CANDIDATES
    )
    return agg.selectExpr(
        f"stack({len(_WM_CANDIDATES)}, {stack})"
        " AS (wm_delay_s, n_dropped)",
        "n AS n_events",
        "mx_s AS max_lateness_s",
    ).selectExpr(
        "wm_delay_s",
        "n_events",
        "n_dropped",
        "CAST(1000 * n_dropped div n_events AS BIGINT) AS drop_per_mille",
        "max_lateness_s",
    )


# ---------------------------------------------------------------------------
# Interval-overlap join (round-9 second session): the interval x
# interval join Spark has no native operator for — sessions (gaps-and-
# islands, the sessionization spec) joined to corpus-wide busy hours
# (hours whose event count >= 1.5x the average). The naive form is an
# inequality theta-join (O(n x m) compare); the scale form BUCKETIZES:
# each session explodes into the hour buckets it covers (bounded by
# session DURATION, which the 30-minute gap rule bounds in practice),
# the join becomes an equi-join on the hour index, and the overlap
# predicate is exact by construction (a session covers bucket h iff
# [start, end] intersects [h, h+1) on the hour grid). All bucket
# arithmetic is integer epoch-hours — bit-identical cross-engine.
# ---------------------------------------------------------------------------


@register(
    "interval_overlap_join_sessions",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER ({_W_SQL})
                       > {_GAP_MS}
                  OR lag(epoch_ms(ts)) OVER ({_W_SQL}) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts,
             sum(is_new) OVER ({_W_SQL}
               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered
    ),
    sessions AS MATERIALIZED (
      SELECT user_id, session_no,
             min(ts) AS session_start,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(min(epoch_ms(ts)) // 3600000 AS BIGINT) AS h0,
             CAST(max(epoch_ms(ts)) // 3600000 AS BIGINT) AS h1
      FROM numbered GROUP BY user_id, session_no
    ),
    hours AS (
      SELECT CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS hour_idx,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    thresh AS (
      SELECT CAST((3 * sum(n) + 2 * count(*) - 1) // (2 * count(*))
                  AS BIGINT) AS k
      FROM hours
    ),
    busy AS (
      SELECT hour_idx FROM hours, thresh WHERE n >= k
    ),
    covered AS (
      SELECT s.user_id, s.session_no,
             CAST(unnest(generate_series(s.h0, s.h1)) AS BIGINT)
               AS hour_idx
      FROM sessions s
    ),
    hits AS (
      SELECT c.user_id, c.session_no,
             CAST(count(*) AS BIGINT) AS busy_hours
      FROM covered c JOIN busy b USING (hour_idx)
      GROUP BY 1, 2
    )
    SELECT s.user_id, s.session_start, s.n_events,
           CAST(s.h1 - s.h0 + 1 AS BIGINT) AS hours_spanned,
           CAST(coalesce(h.busy_hours, 0) AS BIGINT) AS busy_hours,
           coalesce(h.busy_hours, 0) > 0 AS touches_busy
    FROM sessions s
    LEFT JOIN hits h
      ON h.user_id = s.user_id AND h.session_no = s.session_no
    """,
    description="Interval x interval overlap join — sessions (30-min "
    "gaps-and-islands, the sessionization spec) against corpus busy "
    "hours (count >= 1.5x the hourly average, threshold derived by "
    "integer ceiling arithmetic): per session, how many busy hours it "
    "overlapped. Spark has no native interval join, and the naive form "
    "is an O(sessions x hours) inequality theta-join (a "
    "BroadcastNestedLoopJoin at best); the scale form BUCKETIZES — "
    "each session explodes into the integer epoch-hour buckets it "
    "spans (bounded by session duration), the join becomes a hash "
    "equi-join on hour_idx, and overlap is exact by construction on "
    "the hour grid. This is the standard distributed-interval-join "
    "recipe (the same shape range_join_views_before_purchase uses for "
    "point-in-window). All bucket arithmetic is integer epoch-hours; "
    "output counts are exact BIGINTs. Scale: one session window per "
    "user partition, one hour aggregate, the explode bounded by "
    "duration, one equi-join.",
    tags=("temporal", "join", "interval", "sessionization"),
)
def interval_overlap_join_sessions(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = _w()
    ms = F.unix_millis("ts")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (ms - F.lag(ms).over(w) > _GAP_MS) | F.lag(ms).over(w).isNull(),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_new"),
    )
    numbered = flagged.select(
        "user_id",
        "ts",
        F.sum("is_new")
        .over(_w().rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_no"),
    )
    sessions = (
        numbered.groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.count("*").cast("long").alias("n_events"),
            F.expr("CAST(min(unix_millis(ts)) div 3600000 AS BIGINT)")
            .alias("h0"),
            F.expr("CAST(max(unix_millis(ts)) div 3600000 AS BIGINT)")
            .alias("h1"),
        )
        .persist()  # covered-bucket explode + final report share it
    )
    hours = ev.groupBy(
        F.expr("CAST(unix_millis(ts) div 3600000 AS BIGINT)").alias(
            "hour_idx"
        )
    ).agg(F.count("*").cast("long").alias("n"))
    thresh = hours.agg(
        F.expr(
            "CAST((3 * sum(n) + 2 * count(*) - 1) div (2 * count(*))"
            " AS BIGINT)"
        ).alias("k")
    )
    busy = (
        hours.crossJoin(F.broadcast(thresh))  # scale-ok: 1-row threshold
        .where(F.col("n") >= F.col("k"))
        .select("hour_idx")
    )
    covered = sessions.select(
        "user_id",
        "session_no",
        F.explode(F.expr("sequence(h0, h1)")).alias("hour_idx"),
    )
    hits = (
        covered.join(F.broadcast(busy), "hour_idx")
        .groupBy("user_id", "session_no")
        .agg(F.count("*").cast("long").alias("busy_hours"))
    )
    return (
        sessions.join(hits, ["user_id", "session_no"], "left")
        .select(
            "user_id",
            "session_start",
            "n_events",
            (F.col("h1") - F.col("h0") + 1).cast("long").alias(
                "hours_spanned"
            ),
            F.coalesce(F.col("busy_hours"), F.lit(0))
            .cast("long")
            .alias("busy_hours"),
            (F.coalesce(F.col("busy_hours"), F.lit(0)) > 0).alias(
                "touches_busy"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test + Theil-Sen slope (round-9 third session):
# THE nonparametric trend readout of environmental monitoring (the
# reference's own air-quality domain reports trends this way): S =
# sum of pairwise signs over the daily series, tie-corrected normal
# approximation, and the Theil-Sen median-of-pairwise-slopes as the
# robust trend magnitude. Everything after the daily aggregate lives
# on the SPAN-BOUNDED day grid (30 rows here; never corpus-scale), so
# the O(days^2) pair stage is a constant-size broadcast self-join at
# any corpus size — the legitimate place for a quadratic.
# ---------------------------------------------------------------------------

_MK_Z_CRIT = "1.959964"


# Shared texts over (s_stat, var_s) and the pair sign.
_MK_Z = """CASE WHEN var_s <= 0.0 THEN 0.0
           WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
           WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
           ELSE 0.0 END"""
_MK_SIGN = "CASE WHEN vj > vi THEN 1 WHEN vj < vi THEN -1 ELSE 0 END"


def _mk_oracle() -> str:
    z = _MK_Z
    return f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)
               AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    pairs AS MATERIALIZED (
      SELECT a.v AS vi, b.v AS vj, b.di - a.di AS dt
      FROM daily a JOIN daily b ON b.di > a.di
    ),
    s AS (
      SELECT CAST(coalesce(sum({_MK_SIGN}), 0) AS BIGINT) AS s_stat
      FROM pairs
    ),
    ties AS (
      SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
        AS tie_term
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY v)
      WHERE t > 1
    ),
    vs AS (
      SELECT CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term
                  AS DOUBLE) / 18.0 AS var_s
      FROM nn CROSS JOIN ties
    ),
    slopes AS (
      SELECT (vj - vi) / CAST(dt AS DOUBLE) AS sl FROM pairs
    ),
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM slopes),
    ranked AS (
      SELECT sl, row_number() OVER (ORDER BY sl) AS rk FROM slopes
    ),
    med AS (
      SELECT (min(sl) + max(sl)) / 2.0 AS sen_slope
      FROM ranked CROSS JOIN mm
      WHERE rk IN ((mm.m + 1) // 2, (mm.m + 2) // 2)
    )
    SELECT nn.n AS n_days, s.s_stat,
           {r6_sql("vs.var_s")} AS var_s,
           {r6_sql(z)} AS z_score,
           CASE WHEN {z} > {_MK_Z_CRIT} THEN 'increasing'
                WHEN {z} < -{_MK_Z_CRIT} THEN 'decreasing'
                ELSE 'no_trend' END AS trend,
           {r6_sql("med.sen_slope")} AS sen_slope
    FROM nn CROSS JOIN s CROSS JOIN vs CROSS JOIN med
    """


@register(
    "mann_kendall_theil_sen",
    oracle=_mk_oracle(),
    description="Mann-Kendall trend test with tie-corrected normal "
    "approximation plus the Theil-Sen median-of-pairwise-slopes — the "
    "standard nonparametric trend readout of environmental monitoring "
    "(the reference project's own air-quality domain), robust where "
    "OLS trend (trend_slope_by_type) is outlier-hostage. S and the "
    "tie term are exact integers; the z epilogue and the slope median "
    "((min+max)/2 of the two central order statistics — one row when "
    "odd) are shared texts over bit-identical doubles. Scale: ONE "
    "map-side-combined daily aggregate touches the corpus; the "
    "O(days^2) pair stage runs on the span-bounded day grid (~30 "
    "rows), a constant-size broadcast self-join at any corpus size — "
    "the one legitimate home for a quadratic.",
    tags=("timeseries", "trend", "stats", "robust"),
)
def mann_kendall_theil_sen(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("v")
        )
        .select(
            F.datediff(F.col("day"), F.lit("1970-01-01")).alias("di"), "v"
        )
        .persist()  # span-bounded day grid: pair stage + counts read it
    )
    nn = daily.agg(F.count("*").cast("long").alias("n"))
    a = daily.select(F.col("di").alias("ai"), F.col("v").alias("vi"))
    b = daily.select(F.col("di").alias("bi"), F.col("v").alias("vj"))
    pairs = (
        a.join(F.broadcast(b), F.col("bi") > F.col("ai"))  # scale-ok: span-bounded day grid self-join
        .select("vi", "vj", (F.col("bi") - F.col("ai")).alias("dt"))
        .persist()  # S + slope stages read it
    )
    s = pairs.agg(
        F.coalesce(F.sum(F.expr(_MK_SIGN)), F.lit(0))
        .cast("long")
        .alias("s_stat")
    )
    ties = (
        daily.groupBy("v")
        .agg(F.count("*").cast("long").alias("t"))
        .where("t > 1")
        .agg(
            F.coalesce(
                F.sum(F.expr("t * (t - 1) * (2 * t + 5)")), F.lit(0)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    vs = (
        nn.crossJoin(F.broadcast(ties))  # scale-ok: 1-row x 1-row
        .selectExpr(
            "n",
            "CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0"
            " AS var_s",
        )
    )
    from pyspark.sql import Window

    mm = pairs.agg(F.count("*").cast("long").alias("m"))
    wr = Window.orderBy("sl")  # scale-ok: span-bounded slope grid (~days^2/2 rows)
    ranked = pairs.selectExpr(
        "(vj - vi) / CAST(dt AS DOUBLE) AS sl"
    ).withColumn("rk", F.row_number().over(wr))
    med = (
        ranked.crossJoin(F.broadcast(mm))  # scale-ok: grid x 1-row count
        .where("rk IN ((m + 1) div 2, (m + 2) div 2)")
        .agg(
            ((F.min("sl") + F.max("sl")) / 2.0).alias("sen_slope")
        )
    )
    return (
        vs.crossJoin(F.broadcast(s))  # scale-ok: 1-row frames
        .crossJoin(F.broadcast(med))
        .selectExpr(
            "n AS n_days",
            "s_stat",
            f"{r6_sql('var_s')} AS var_s",
            f"{r6_sql(_MK_Z)} AS z_score",
            f"""CASE WHEN {_MK_Z} > {_MK_Z_CRIT} THEN 'increasing'
                WHEN {_MK_Z} < -{_MK_Z_CRIT} THEN 'decreasing'
                ELSE 'no_trend' END AS trend""",
            f"{r6_sql('sen_slope')} AS sen_slope",
        )
    )


# ---------------------------------------------------------------------------
# Daily cross-correlation function (round-9 third session): does view
# activity LEAD purchase activity? Pearson r between the daily view
# series and the purchase series shifted by each lag in [-7, +7] —
# the classic lead-lag diagnostic (value_autocorrelation_lag1's
# two-series generalization). Everything after the daily aggregate
# lives on the span-bounded day grid; per-lag moments are decimal-
# routed so day order cannot perturb r.
# ---------------------------------------------------------------------------

_CCF_MAX_LAG = 7


# Shared Pearson text over per-lag moments (nn, sx, sy, sxx, syy, sxy).
_CCF_R = """CASE WHEN nn < 2
                OR (nn * sxx - sx * sx) <= 0.0
                OR (nn * syy - sy * sy) <= 0.0 THEN 0.0
           ELSE (nn * sxy - sx * sy)
                / sqrt((nn * sxx - sx * sx) * (nn * syy - sy * sy)) END"""


def _ccf_oracle() -> str:
    return f"""
    WITH daily AS MATERIALIZED (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
             CAST(coalesce(sum(CASE WHEN event_type = 'view'
                   THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE)
               AS x,
             CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                   THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE)
               AS y
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG + 1}))
               AS lag),
    pairs AS (
      SELECT l.lag, a.x, b.y
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.di = a.di + l.lag
    ),
    mom AS (
      SELECT lag,
             CAST(count(*) AS DOUBLE) AS nn,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy,
             CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n_days,
           {r6_sql(_CCF_R)} AS ccf_r
    FROM mom
    """


@register(
    "daily_cross_correlation",
    oracle=_ccf_oracle(),
    description=f"Lead-lag cross-correlation: Pearson r between the "
    f"daily view-value series and the purchase-value series at every "
    f"lag in [-{_CCF_MAX_LAG}, +{_CCF_MAX_LAG}] — the diagnostic that "
    "says whether browsing activity LEADS buying (positive-lag peak) "
    "or merely co-moves; value_autocorrelation_lag1's two-series "
    "generalization. One map-side-combined daily aggregate touches "
    "the corpus; the lag x day pair stage and the per-lag moment "
    "reduction live on the span-bounded day grid (~30 x 15 rows), "
    "with double terms routed through DECIMAL(38,12) so day order "
    "cannot perturb r; the Pearson epilogue is one shared guarded "
    "text.",
    tags=("timeseries", "correlation", "stats", "analytics"),
)
def daily_cross_correlation(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return _ccf_readout(spark, _ccf_daily_dec(ev))


def _ccf_daily_dec(ev, extra: tuple = ()):
    """Per-day exact DECIMAL(38,6) view/purchase value sums keyed by
    epoch day — additive across ANY row partitioning of the events,
    the property the streaming maintenance twin sum-merges on.
    ``extra`` names pass-through grouping columns (the batched
    maintenance path labels rows with a batch id and builds every
    weekly increment in one scan); the default path is unchanged."""
    return ev.groupBy(
        *extra,
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")).alias(
            "di"
        ),
    ).agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "view",
                    F.col("value").cast("decimal(18,6)"),
                )
            ),
            F.lit(0),
        )
        .cast("decimal(38,6)")
        .alias("x"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(18,6)"),
                )
            ),
            F.lit(0),
        )
        .cast("decimal(38,6)")
        .alias("y"),
    )


def _ccf_readout(spark, daily_dec):
    """Lag sweep + per-lag Pearson over a (di, x, y) decimal day frame
    — one definition shared by the batch query and the maintained-
    state twin, so incremental and batch CCF cannot fork."""
    daily = daily_dec.select(
        "di",
        F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
    ).persist()  # span-bounded day grid: both sides of the lag join
    lags = spark.range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    a = daily.select(F.col("di").alias("ai"), "x")
    b = daily.select(F.col("di").alias("bi"), "y")
    pairs = (
        lags.crossJoin(F.broadcast(a))  # scale-ok: 15 lags x day grid
        .join(
            F.broadcast(b),
            F.col("bi") == F.col("ai") + F.col("lag"),
        )
        .select("lag", "x", "y")
    )
    mom = pairs.groupBy("lag").agg(
        F.count("*").cast("double").alias("nn"),
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,12))"))
        .cast("double")
        .alias("sx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,12))"))
        .cast("double")
        .alias("sy"),
        F.sum(F.expr("CAST(x * x AS DECIMAL(38,12))"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.expr("CAST(y * y AS DECIMAL(38,12))"))
        .cast("double")
        .alias("syy"),
        F.sum(F.expr("CAST(x * y AS DECIMAL(38,12))"))
        .cast("double")
        .alias("sxy"),
    )
    return mom.selectExpr(
        "lag", "n_days", f"{r6_sql(_CCF_R)} AS ccf_r"
    )


@register(
    "streaming_ccf_maintenance",
    oracle=_ccf_oracle(),
    description="Incremental lead-lag cross-correlation: the per-day "
    "exact decimal (view, purchase) value sums are maintained across "
    "span-derived weekly event batches by the shared ledgered "
    "sum-merge (streaming/sketch_maintenance.merge_state; per-day "
    "sums are purely additive — the same merge "
    "algebra as the histogram-quantile and A/B-moment state; "
    "exactly-once lives in the atomic sketch+ledger commit), then the "
    "full [-7, +7] CCF is read from the MAINTAINED state through the "
    "batch query's own _ccf_readout — one readout definition, so "
    "incremental and batch correlations cannot fork, and the shared "
    "oracle proves maintained == batch-built. Scale: state is "
    "O(span days) narrow rows forever; the one-transition merge "
    "(batch-labeled scan, fold-identical by sum associativity) reads "
    "only "
    "its increment; the readout is the span-bounded day-grid "
    "arithmetic of the batch twin.",
    tags=("timeseries", "streaming", "incremental", "correlation"),
)
def streaming_ccf_maintenance(spark, sf_dir):
    from datalakes_and_data_integration_spark.plans._util import state_tmp
    from datalakes_and_data_integration_spark.plans.streaming_extra import (
        _week_bid,
        _weekly_bounds,
    )
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        BID,
        merge_state,
    )

    ev = T(spark, sf_dir, "events").select("event_type", "value", "ts")
    state = state_tmp("ccf_maint_q")
    weeks = _weekly_bounds(ev)
    if not weeks:  # empty events table -> zero batches, empty report
        return spark.createDataFrame(
            [], "lag BIGINT, n_days BIGINT, ccf_r DOUBLE"
        )
    # Every weekly per-day increment in ONE scan (batch-labeled grouping
    # through the shared _ccf_daily_dec), merged in ONE ledgered state
    # transition — decimal sums are exact and associative, so the
    # single transition equals the per-week fold (guide §2.4 /
    # VERDICT r9 #1: the fold paid the collect+write job rounds 5x).
    inc = _ccf_daily_dec(ev.withColumn(BID, _week_bid(weeks)), extra=(BID,))
    daily = merge_state(
        spark,
        state,
        inc,
        batch_ids=list(range(len(weeks) - 1)),
        key_cols=["di"],
        aggs={"x": "sum", "y": "sum"},
    )
    return _ccf_readout(spark, daily)
