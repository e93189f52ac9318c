"""Temporal join operators over the ``events`` clickstream + per-group
ranking, pivot, and set operations.

The reference has exactly one join (full outer equi, SURVEY.md §2.3) and no
as-of/range/ranking operators; these are the custom operators the brief
calls for ("as-of join, range join"), expressed as compositions of existing
DataFrame ops — no UDFs.

Scale notes (100 TB):
- as-of join: the union+ordered-window form — both sides shuffle ONCE on
  the entity key and are processed in time order; no range-explosion, no
  per-row probing. This is the standard scalable as-of shape (a sort-merge
  as-of). Skewed users bound the partition; salting would split them.
- range join: equi-key join with the range as a post-join filter — Spark
  executes shuffle-hash/SMJ on user_id, and the time predicate prunes pairs
  in the stream. Bounded windows keep the per-key fan-out small; at 100 TB
  the win is bucketing both sides by user_id so the shuffle disappears.
- top-n per group: window row_number + filter, executed as
  WindowGroupLimit (partial per-partition top-n before the shuffle).
- pivot: groupBy().pivot() with an explicit value list — one shuffle, no
  second pass to discover values (discovery is a full extra scan at scale).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.plans._util import (
    T,
    VALUE,
    dec,
    msum,
    r6,
)
from datalakes_and_data_integration_spark.plans.registry import register

# ---------------------------------------------------------------------------
# As-of join: for each purchase event, the most recent click by the same
# user at or before the purchase time.
# ---------------------------------------------------------------------------


@register(
    "asof_join_last_click",
    oracle="""
    SELECT purchase_id, user_id, purchase_ts, click_id, click_ts
    FROM (
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
             c.event_id AS click_id, c.ts AS click_ts,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY c.ts DESC, c.event_id DESC
             ) AS rn
      FROM events p
      LEFT JOIN events c
        ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
      WHERE p.event_type = 'purchase'
    ) WHERE rn = 1
    """,
    description="As-of join: latest click at-or-before each purchase, per "
    "user (ties broken by event_id). Spark side is the scalable union+"
    "ordered-window form — one shuffle on user_id, no range explosion; the "
    "oracle is the O(n*m) correlated form.",
    tags=("asof-join", "temporal", "window"),
    bench=True,
)
def asof_join_last_click(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.lit(0).alias("is_probe"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.lit(1).alias("is_probe"),
    )
    # Union both streams, order per user by (ts, is_probe, event id): at an
    # equal timestamp clicks sort BEFORE the purchase (<= semantics), and
    # among equal-ts clicks the largest event_id wins (matches the oracle's
    # DESC, DESC tiebreak). last(ignorenulls) carries the most recent click
    # forward onto each purchase row.
    both = clicks.select(
        "user_id", "ts", "is_probe",
        F.col("click_id").alias("ev_click_id"),
        F.col("ts").alias("ev_click_ts"),
        F.lit(None).cast("long").alias("purchase_id"),
    ).unionByName(
        purchases.select(
            "user_id", "ts", "is_probe",
            F.lit(None).cast("long").alias("ev_click_id"),
            F.lit(None).cast("timestamp").alias("ev_click_ts"),
            "purchase_id",
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").asc(),
            F.col("is_probe").asc(),
            F.col("ev_click_id").asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        both.withColumn(
            "click_id", F.last("ev_click_id", ignorenulls=True).over(w)
        )
        .withColumn("click_ts", F.last("ev_click_ts", ignorenulls=True).over(w))
        .filter(F.col("is_probe") == 1)
        .select(
            "purchase_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "click_id",
            "click_ts",
        )
    )


# ---------------------------------------------------------------------------
# Range join: views within the hour before each purchase.
# ---------------------------------------------------------------------------


@register(
    "range_join_views_before_purchase",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           count(v.event_id) AS views_1h,
           CAST(ROUND(sum(COALESCE(CAST(v.value AS DECIMAL(18,6)),
                                   CAST(0 AS DECIMAL(18,6)))), 4) AS DOUBLE)
             AS view_value_1h
    FROM events p
    LEFT JOIN events v
      ON v.user_id = p.user_id AND v.event_type = 'view'
      AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id
    """,
    description="Range join: count and value of views in the hour before "
    "each purchase, per user — equi-join on user_id with the time range as "
    "a join-time filter (bucketing both sides by user_id removes the "
    "shuffle at scale).",
    tags=("range-join", "temporal", "aggregate"),
    bench=True,
)
def range_join_views(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("v_event_id"),
        F.col("value").alias("v_value"),
    )
    joined = p.join(
        v,
        (p.user_id == v.v_user_id)
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") < F.col("p_ts")),
        "left_outer",
    )
    return joined.groupBy("purchase_id", "user_id").agg(
        F.count("v_event_id").alias("views_1h"),
        F.round(
            F.sum(F.coalesce(dec("v_value", *VALUE), F.lit(0).cast("decimal(18,6)"))),
            4,
        )
        .cast("double")
        .alias("view_value_1h"),
    )


# ---------------------------------------------------------------------------
# Top-N per group: 3 biggest orders per customer (ranking window).
# ---------------------------------------------------------------------------


@register(
    "topn_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    description="Top-3 orders by price per customer: ranking window with "
    "total-order tiebreak; Spark executes WindowGroupLimit (per-partition "
    "partial top-n before the shuffle).",
    tags=("window", "ranking", "topk"),
)
def topn_orders_per_customer(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


# ---------------------------------------------------------------------------
# Pivot: daily event counts by type (wide table from tall).
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "events_pivot_daily_by_type",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           {", ".join(
               f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}_cnt"
               for t in _EVENT_TYPES
           )}
    FROM events
    GROUP BY date_trunc('day', ts)
    """,
    description="Daily event counts pivoted to one column per event type: "
    "groupBy().pivot() with an explicit value list (no extra "
    "value-discovery scan); one shuffle on day.",
    tags=("pivot", "aggregate"),
)
def events_pivot_daily(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    wide = (
        e.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    out = wide.select(
        "day",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"{t}_cnt") for t in _EVENT_TYPES],
    )
    return out


# ---------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT over user populations.
# ---------------------------------------------------------------------------


@register(
    "set_ops_user_cohorts",
    oracle="""
    SELECT 'purchaser_and_error' AS cohort, user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'error'
    )
    UNION ALL
    SELECT 'purchaser_never_error' AS cohort, user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'error'
    )
    """,
    description="INTERSECT and EXCEPT cohorts of purchasers vs error-hitters "
    "(distinct set semantics), tagged and unioned into one result.",
    tags=("set-ops",),
)
def set_ops_user_cohorts(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    buyers = e.filter(F.col("event_type") == "purchase").select("user_id")
    errs = e.filter(F.col("event_type") == "error").select("user_id")
    both = buyers.intersect(errs).select(
        F.lit("purchaser_and_error").alias("cohort"), "user_id"
    )
    only = buyers.subtract(errs).select(
        F.lit("purchaser_never_error").alias("cohort"), "user_id"
    )
    return both.unionByName(only)


# ---------------------------------------------------------------------------
# Sequential conversion funnel: signup -> later view -> later purchase.
# ---------------------------------------------------------------------------


@register(
    "conversion_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t_signup FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    v AS (
      SELECT e.user_id, min(e.ts) AS t_view
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'view' AND e.ts > s.t_signup
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.t_view
      GROUP BY e.user_id
    )
    SELECT 'signed_up' AS stage, count(*) AS n_users FROM s
    UNION ALL
    SELECT 'viewed_after_signup', count(*) FROM v
    UNION ALL
    SELECT 'purchased_after_view', count(*) FROM p
    """,
    description="Sequential conversion funnel: first signup, first view "
    "strictly after it, first purchase strictly after that — per-user "
    "ordered-event matching via chained conditional-min aggregates and "
    "joins (each stage's frame is small and broadcasts into the next).",
    tags=("funnel", "temporal", "aggregate"),
)
def conversion_funnel(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .join(F.broadcast(s), "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(v), "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    out = None
    for name, frame in (
        ("signed_up", s),
        ("viewed_after_signup", v),
        ("purchased_after_view", p),
    ):
        row = frame.agg(F.count("*").alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "dau_by_nation",
    oracle="""
    SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS day,
           n.n_name AS nation,
           count(DISTINCT e.user_id) AS n_users,
           count(*) AS n_events
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY day, n.n_name
    """,
    description="Daily active users by nation: the clickstream joined to "
    "the relational dims (events.user_id -> customer -> nation, both dims "
    "broadcast) — cross-domain enrichment between the star schema and the "
    "event stream.",
    tags=("join", "distinct", "cross-domain"),
)
def dau_by_nation(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.date_trunc("day", "ts").alias("day"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "user_first_last_event",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn_first,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn_last
      FROM events
    )
    SELECT f.user_id,
           f.event_type AS first_type, f.ts AS first_ts,
           l.event_type AS last_type, l.ts AS last_ts
    FROM (SELECT * FROM ranked WHERE rn_first = 1) f
    JOIN (SELECT * FROM ranked WHERE rn_last = 1) l
      ON f.user_id = l.user_id
    """,
    description="First and last event per user (the arg-min/arg-max "
    "pattern): two ranking windows over ONE shuffle on user_id (same "
    "partitioning, opposite orders), deterministic (ts, event_id) "
    "tiebreaks.",
    tags=("window", "ranking", "argmax"),
)
def user_first_last_event(spark, sf_dir):
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    w_f = Window.partitionBy("user_id").orderBy(
        F.col("ts"), F.col("event_id")
    )
    w_l = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = e.select(
        "user_id",
        "event_type",
        "ts",
        F.row_number().over(w_f).alias("rn_first"),
        F.row_number().over(w_l).alias("rn_last"),
    )
    f = ranked.filter(F.col("rn_first") == 1).select(
        "user_id",
        F.col("event_type").alias("first_type"),
        F.col("ts").alias("first_ts"),
    )
    last = ranked.filter(F.col("rn_last") == 1).select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.col("ts").alias("last_ts"),
    )
    return f.join(last, "user_id")


@register(
    "cohort_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, date_trunc('week', e.ts) AS active_week
      FROM events e
    )
    SELECT CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
           CAST(datediff('week', f.cohort_week, a.active_week) AS INT)
             AS week_offset,
           count(DISTINCT a.user_id) AS n_active
    FROM first_seen f
    JOIN activity a ON a.user_id = f.user_id
    GROUP BY f.cohort_week,
             datediff('week', f.cohort_week, a.active_week)
    """,
    description="Cohort retention matrix: users grouped by first-seen week, "
    "counted distinct in each later week (offset in weeks) — first-seen "
    "aggregate broadcast back onto the distinct activity set.",
    tags=("cohort", "retention", "temporal", "aggregate"),
)
def cohort_retention(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    return (
        activity.join(F.broadcast(first_seen), "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# Rolling z-score anomaly detection: per event type, each value scored
# against the trailing-24h mean/std. The monitoring primitive for a
# continuously-ingesting pipeline (alert on metric excursions) — pure
# RANGE-frame windows, no state, no UDFs.
# Float determinism: both frame sums go through DECIMAL (order-independent),
# are rounded at 6dp, and only then enter double arithmetic written
# identically on both engines — so mean/std/z agree bit-for-bit.
# ---------------------------------------------------------------------------


@register(
    "rolling_zscore_anomaly",
    oracle="""
    WITH framed AS (
      SELECT event_id, event_type, ts, value,
             count(*) OVER w AS n_24h,
             CAST(ROUND(sum(CAST(value AS DECIMAL(18,6))) OVER w, 6)
                  AS DOUBLE) AS s1,
             CAST(ROUND(sum(CAST(value * value AS DECIMAL(27,6))) OVER w, 6)
                  AS DOUBLE) AS s2
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts
                   RANGE BETWEEN INTERVAL 24 HOUR PRECEDING AND CURRENT ROW)
    ),
    scored AS (
      SELECT event_id, event_type, ts, value, n_24h,
             s1 / n_24h AS mean_24h,
             sqrt(greatest(s2 / n_24h - (s1 / n_24h) * (s1 / n_24h), 0))
               AS std_24h
      FROM framed
    )
    SELECT event_id, event_type, ts, value, n_24h,
           CAST(ROUND(CAST(mean_24h AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS mean_24h,
           CAST(ROUND(CAST(std_24h AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS std_24h,
           CAST(ROUND(CAST(
                  CASE WHEN std_24h > 0 THEN (value - mean_24h) / std_24h END
                  AS DECIMAL(27,12)), 6) AS DOUBLE) AS zscore,
           coalesce(
             CASE WHEN std_24h > 0
                  THEN abs((value - mean_24h) / std_24h) > 3 END,
             false) AS is_anomaly
    FROM scored
    """,
    description="Trailing-24h z-score per event: RANGE-frame count/sum/"
    "sum-of-squares per event_type (decimal-exact, rounded before double "
    "math so both engines agree), variance via the sums, anomaly flag at "
    "|z| > 3. One shuffle on event_type; the frame is time-bounded so "
    "state per key is bounded regardless of history length.",
    tags=("window", "range-frame", "anomaly", "monitoring"),
)
def rolling_zscore_anomaly(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    day_us = 24 * 3_600 * 1_000_000
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-day_us, 0)
    )
    framed = ev.select(
        "event_id",
        "event_type",
        "ts",
        "value",
        F.count("*").over(w).alias("n_24h"),
        F.round(F.sum(dec("value", 18, 6)).over(w), 6)
        .cast("double")
        .alias("s1"),
        F.round(
            F.sum(F.expr("CAST(value * value AS DECIMAL(27,6))")).over(w), 6
        )
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("n_24h")
    std = F.sqrt(
        F.greatest(
            F.col("s2") / F.col("n_24h") - mean * mean, F.lit(0.0)
        )
    )
    scored = framed.withColumn("mean_24h_raw", mean).withColumn(
        "std_24h_raw", std
    )
    z = F.when(
        F.col("std_24h_raw") > 0,
        (F.col("value") - F.col("mean_24h_raw")) / F.col("std_24h_raw"),
    )
    return scored.select(
        "event_id",
        "event_type",
        "ts",
        "value",
        "n_24h",
        r6(F.col("mean_24h_raw")).alias("mean_24h"),
        r6(F.col("std_24h_raw")).alias("std_24h"),
        r6(z).alias("zscore"),
        F.coalesce(
            F.when(
                F.col("std_24h_raw") > 0, F.abs(z) > 3
            ),
            F.lit(False),
        ).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# EWMA smoothing: exponentially weighted moving average over the last 20
# observations per event type. True recursive EWMA is a sequential scan; the
# 20-term truncated form (weights 0.3 * 0.7^j, renormalized over available
# lags at the series head) is window-expressible, embarrassingly parallel
# per key, and within 0.7^20 ~ 8e-4 of the recursion. Weights are baked as
# identical float literals into both engines and the sum is a fixed-order
# expression chain — bit-identical doubles.
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3
_EWMA_LAGS = 20
_EWMA_W = [_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j for j in range(_EWMA_LAGS)]


def _ewma_oracle() -> str:
    num = " + ".join(
        f"(CASE WHEN lag(value, {j}) OVER w IS NOT NULL THEN "
        f"{w!r} * lag(value, {j}) OVER w ELSE 0 END)"
        for j, w in enumerate(_EWMA_W)
    )
    den = " + ".join(
        f"(CASE WHEN lag(value, {j}) OVER w IS NOT NULL THEN {w!r} "
        "ELSE 0 END)"
        for j, w in enumerate(_EWMA_W)
    )
    return f"""
    SELECT event_id, event_type, ts, value,
           round(({num}) / ({den}), 6) AS ewma20
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    """


@register(
    "ewma_smoothing",
    oracle=_ewma_oracle(),
    description=f"Truncated EWMA (alpha={_EWMA_ALPHA}, {_EWMA_LAGS} lags, "
    "head-renormalized) per event type: a fixed-order chain of lag() terms "
    "over one window — one shuffle on event_type, no recursion, no state; "
    "each key's series smooths independently at any scale.",
    tags=("window", "timeseries", "smoothing"),
)
def ewma_smoothing(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lags = [F.lag("value", j).over(w) for j in range(_EWMA_LAGS)]
    num = None
    den = None
    for lj, wj in zip(lags, _EWMA_W):
        nterm = F.when(lj.isNotNull(), F.lit(wj) * lj).otherwise(F.lit(0.0))
        dterm = F.when(lj.isNotNull(), F.lit(wj)).otherwise(F.lit(0.0))
        num = nterm if num is None else num + nterm
        den = dterm if den is None else den + dterm
    return ev.select(
        "event_id",
        "event_type",
        "ts",
        "value",
        F.round(num / den, 6).alias("ewma20"),
    )


# ---------------------------------------------------------------------------
# Ranking-function coverage: every rank-family window function Spark ships,
# one partitioned pass. (rank/dense_rank/percent_rank/cume_dist/ntile/
# nth_value; row_number is exercised all over the suite.) One shuffle on
# event_type; all six functions share the single sorted partition pass.
# ---------------------------------------------------------------------------


@register(
    "window_rank_family",
    oracle="""
    SELECT event_id, event_type, value,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           round(percent_rank() OVER w, 6) AS prnk,
           round(cume_dist() OVER w, 6) AS cdist,
           ntile(4) OVER w AS quartile,
           nth_value(value, 2) OVER (
             PARTITION BY event_type ORDER BY value DESC, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_highest
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)
    """,
    description="The rank family in one partitioned window pass: rank, "
    "dense_rank, percent_rank, cume_dist, ntile(4), and a full-frame "
    "nth_value — deterministic total order (value desc, event_id), one "
    "shuffle on event_type, zero extra exchanges for the six functions.",
    tags=("window", "rank"),
)
def window_rank_family(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), "event_id"
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
        F.nth_value("value", 2).over(wf).alias("second_highest"),
    )


# ---------------------------------------------------------------------------
# Event-transition matrix: first-order Markov transition counts and
# probabilities over each user's time-ordered event sequence. One lag
# window per user + one grouped count — the sequence-mining primitive
# (path analysis, next-event prediction features).
# ---------------------------------------------------------------------------


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type, count(*) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type, n_transitions,
           CAST(ROUND(CAST(CAST(n_transitions AS DOUBLE)
                           / sum(n_transitions) OVER (PARTITION BY prev_type)
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS p
    FROM trans
    """,
    description="First-order Markov transitions over per-user time-ordered "
    "event sequences: lag window (one shuffle on user_id), grouped "
    "transition counts, and row-normalized probabilities via a window over "
    "the |event types|^2 transition table.",
    tags=("window", "sequence", "markov"),
)
def event_transition_matrix(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", "event_type").agg(
        F.count("*").alias("n_transitions")
    )
    # scale-ok: normalization window over the |types|^2 transition table
    wp = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "event_type",
        "n_transitions",
        r6(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wp)
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# Time-decayed popularity: exponentially decayed count/value per event
# type (half-life 7 days from a fixed anchor). The decay factor per
# whole-day age is a PRECOMPUTED python float literal baked into a CASE
# on both engines — no runtime pow()/exp(), whose libm rounding differs —
# and the decayed sums go through DECIMAL so partition order can't move
# the result.
# ---------------------------------------------------------------------------

_DECAY_ANCHOR = "2024-02-01"
_DECAY_HALF_LIFE_D = 7
_DECAY_MAX_D = 45
_DECAY_F = [0.5 ** (d / _DECAY_HALF_LIFE_D) for d in range(_DECAY_MAX_D + 1)]


def _decay_case(day_expr: str) -> str:
    branches = " ".join(
        f"WHEN {day_expr} = {d} THEN {f!r}" for d, f in enumerate(_DECAY_F)
    )
    return f"CASE {branches} ELSE 0.0 END"


@register(
    "time_decayed_popularity",
    oracle=f"""
    WITH aged AS (
      SELECT event_type, value,
             date_diff('day', CAST(ts AS DATE), DATE '{_DECAY_ANCHOR}')
               AS age_d
      FROM events
    ),
    weighted AS (
      SELECT event_type,
             {_decay_case('age_d')} AS w,
             value
      FROM aged
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(ROUND(sum(CAST(w AS DECIMAL(28,12))), 6) AS DOUBLE)
             AS decayed_count,
           CAST(ROUND(sum(CAST(w * value AS DECIMAL(28,12))), 6) AS DOUBLE)
             AS decayed_value
    FROM weighted GROUP BY event_type
    """,
    description=f"Exponentially time-decayed popularity (half-life "
    f"{_DECAY_HALF_LIFE_D} d, anchor {_DECAY_ANCHOR}): per-whole-day decay "
    "factors precomputed as float literals (no runtime pow/exp — libm "
    "rounding differs per engine), decayed count and value summed through "
    "DECIMAL for partition-order independence. One grouped scan; the "
    "trending-content primitive.",
    tags=("aggregate", "decay", "temporal"),
)
def time_decayed_popularity(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    aged = ev.select(
        "event_type",
        "value",
        F.datediff(
            F.lit(_DECAY_ANCHOR).cast("date"), F.col("ts").cast("date")
        ).alias("age_d"),
    )
    weighted = aged.select(
        "event_type",
        F.expr(_decay_case("age_d")).alias("w"),
        "value",
    )
    return weighted.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.expr("CAST(w AS DECIMAL(28,12))")), 6)
        .cast("double")
        .alias("decayed_count"),
        F.round(F.sum(F.expr("CAST(w * value AS DECIMAL(28,12))")), 6)
        .cast("double")
        .alias("decayed_value"),
    )


# ---------------------------------------------------------------------------
# Trend estimation: per-type OLS slope of value over time. Built from the
# closed-form sums — NOT covar_pop/var_pop, whose streaming accumulators
# are partition-order-dependent floats on both engines. Each moment sum
# routes through DECIMAL (exact, order-free), is rounded once, and the
# closed form runs on the rounded doubles with identical expression text.
# ---------------------------------------------------------------------------

_TREND_ANCHOR = "2024-01-01"


@register(
    "trend_slope_by_type",
    oracle=f"""
    WITH xy AS (
      SELECT event_type,
             CAST(date_diff('second', TIMESTAMP '{_TREND_ANCHOR} 00:00:00',
                            ts) AS DOUBLE) / 86400.0 AS x,
             value AS y
      FROM events
    ),
    sums AS (
      SELECT event_type,
             count(*) AS n,
             CAST(ROUND(sum(CAST(x AS DECIMAL(27,12))), 6) AS DOUBLE) AS sx,
             CAST(ROUND(sum(CAST(y AS DECIMAL(27,12))), 6) AS DOUBLE) AS sy,
             CAST(ROUND(sum(CAST(x * x AS DECIMAL(27,12))), 6) AS DOUBLE)
               AS sxx,
             CAST(ROUND(sum(CAST(x * y AS DECIMAL(27,12))), 6) AS DOUBLE)
               AS sxy
      FROM xy GROUP BY event_type
    )
    SELECT event_type, n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS intercept
    FROM sums
    """,
    description="Per-type OLS trend (slope/intercept of value over days "
    f"since {_TREND_ANCHOR}) from closed-form moment sums: each sum is "
    "decimal-exact and rounded once, so the regression is partition-order-"
    "independent — unlike covar_pop/var_pop streaming accumulators. One "
    "grouped scan.",
    tags=("aggregate", "regression", "temporal"),
)
def trend_slope_by_type(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    # Whole seconds (exact integer division), matching DuckDB's
    # date_diff('second', ...); then one double division — identical x.
    xy = ev.select(
        "event_type",
        F.expr(
            f"(unix_micros(ts) - unix_micros(CAST('{_TREND_ANCHOR} 00:00:00'"
            " AS TIMESTAMP))) div 1000000"
        ).alias("x_s"),
        F.col("value").alias("y"),
    ).select(
        "event_type",
        (F.col("x_s").cast("double") / 86400.0).alias("x"),
        "y",
    )
    sums = xy.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.expr("CAST(x AS DECIMAL(27,12))")), 6)
        .cast("double")
        .alias("sx"),
        F.round(F.sum(F.expr("CAST(y AS DECIMAL(27,12))")), 6)
        .cast("double")
        .alias("sy"),
        F.round(F.sum(F.expr("CAST(x * x AS DECIMAL(27,12))")), 6)
        .cast("double")
        .alias("sxx"),
        F.round(F.sum(F.expr("CAST(x * y AS DECIMAL(27,12))")), 6)
        .cast("double")
        .alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Seasonality profile: mean event volume per (day-of-week, hour-of-day)
# cell per event type — the capacity-planning / anomaly-baseline shape.
# Integer counts; the per-cell mean is a decimal-routed ratio.
# ---------------------------------------------------------------------------


@register(
    "seasonality_profile",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           dayofweek(h) + 1 AS dow,  -- DuckDB Sun=0; Spark Sun=1
           CAST(hour(h) AS INT) AS hod,
           count(*) AS n_slots,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(ROUND(CAST(CAST(sum(n) AS DOUBLE) / count(*)
                           AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS mean_per_slot
    FROM hourly
    GROUP BY event_type, dayofweek(h) + 1, hour(h)
    """,
    description="Seasonality profile: mean hourly volume per (day-of-week, "
    "hour-of-day) cell per event type — two grouped aggregates (hourly "
    "rollup, then the 7x24 profile), decimal-routed means. The baseline "
    "shape capacity planning and anomaly thresholds key off.",
    tags=("temporal", "seasonality", "aggregate"),
)
def seasonality_profile(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n"))
    return (
        hourly.groupBy(
            "event_type",
            F.dayofweek("h").alias("dow"),
            F.hour("h").cast("int").alias("hod"),
        )
        .agg(
            F.count("*").alias("n_slots"),
            F.sum("n").alias("n_events"),
            r6(F.sum("n").cast("double") / F.count("*"))
            .alias("mean_per_slot"),
        )
    )


# ---------------------------------------------------------------------------
# Revenue Pareto: how concentrated is revenue across customers? Customers
# ranked by lifetime spend (distributed two-level rank — no global
# window over customers), cut into rank deciles, each decile's revenue
# and cumulative share reported. The "is it 80/20" answer for account
# planning, and another consumer of the distributed-rank pattern.
# ---------------------------------------------------------------------------


@register(
    "revenue_pareto",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             sum(CAST(o_totalprice AS DECIMAL(25,2))) AS s
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, s,
             row_number() OVER (ORDER BY s DESC, o_custkey) AS rn,
             count(*) OVER () AS n
      FROM spend
    ),
    deciles AS (
      SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS decile,
             count(*) AS n_customers,
             sum(s) AS rev
      FROM ranked GROUP BY 1
    ),
    tot AS (SELECT sum(rev) AS total FROM deciles)
    SELECT d.decile, d.n_customers,
           CAST(ROUND(d.rev, 2) AS DOUBLE) AS revenue,
           CAST(ROUND(CAST(CAST(sum(d.rev) OVER (ORDER BY d.decile)
                                AS DOUBLE) / CAST(t.total AS DOUBLE)
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS cum_share
    FROM deciles d CROSS JOIN tot t
    """,
    description="Revenue concentration: customers ranked by lifetime "
    "spend via the two-level distributed rank (range partition + local "
    "row_number + offsets — never a global window over customers), cut "
    "into rank deciles; per-decile revenue (decimal-exact) and "
    "cumulative share over the 10-row decile table. The 80/20 audit.",
    tags=("aggregate", "pareto", "distributed-rank"),
)
def revenue_pareto(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(o_totalprice AS DECIMAL(25,2))")).alias("s")
    )
    # Two-level distributed rank (same scheme as customer_spend_quartiles).
    parts = (
        spend.repartitionByRange(32, F.col("s").desc(), F.col("o_custkey"))
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    wl = Window.partitionBy("__pid").orderBy(
        F.col("s").desc(), F.col("o_custkey")
    )
    ranked = parts.withColumn("__lrank", F.row_number().over(wl))
    counts = parts.groupBy("__pid").agg(F.count("*").alias("__cnt"))
    # scale-ok: window over one row per range partition
    wo = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__cnt").over(wo), F.lit(0)).alias("__off")
    )
    tot_n = counts.agg(F.sum("__cnt").alias("__n"))
    with_rank = (
        ranked.join(F.broadcast(offsets), "__pid")
        .crossJoin(F.broadcast(tot_n))  # scale-ok: 1-row total
        .withColumn("rn", F.col("__lrank") + F.col("__off"))
    )
    deciles = with_rank.groupBy(
        F.expr("CAST((rn - 1) * 10 div __n AS BIGINT)").alias("decile")
    ).agg(
        F.count("*").alias("n_customers"),
        F.sum("s").alias("rev"),
    )
    tot = deciles.agg(F.sum("rev").alias("total"))
    # scale-ok: cumulative window over the 10-row decile table
    wc = Window.orderBy("decile")
    return (
        deciles.crossJoin(F.broadcast(tot))  # scale-ok: 1-row total
        .select(
            "decile",
            "n_customers",
            F.round(F.col("rev"), 2).cast("double").alias("revenue"),
            r6(
                F.sum("rev").over(wc).cast("double")
                / F.col("total").cast("double")
            ).alias("cum_share"),
        )
    )


# ---------------------------------------------------------------------------
# Inter-event gap statistics: per event type, the distribution of
# per-user gaps between consecutive events — the engagement-cadence
# metric, and the input for choosing sessionization gaps and stream
# watermarks. Gaps are integer seconds (exact); means are decimal-routed.
# ---------------------------------------------------------------------------


@register(
    "interevent_gap_stats",
    oracle="""
    WITH secs AS (
      -- per-timestamp truncation to whole seconds, matching Spark's
      -- unix_micros(ts) div 1000000 (date_diff would count boundary
      -- crossings of the DIFFERENCE, a different rounding)
      SELECT event_type, user_id, ts, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ),
    gaps AS (
      SELECT event_type,
             sec - lag(sec) OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS gap_s
      FROM secs
    )
    SELECT event_type,
           count(gap_s) AS n_gaps,
           min(gap_s) AS min_gap_s,
           max(gap_s) AS max_gap_s,
           CAST(ROUND(CAST(CAST(sum(gap_s) AS DOUBLE) / count(gap_s)
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS mean_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY event_type
    """,
    description="Per-type inter-event gap stats over per-(user, type) "
    "time-ordered sequences: one lag window (shuffle on the composite "
    "key), integer-second gaps (exact), decimal-routed mean. The "
    "cadence evidence behind sessionization-gap and watermark choices.",
    tags=("temporal", "window", "cadence"),
)
def interevent_gap_stats(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    gaps = ev.select(
        "event_type",
        (
            F.expr("unix_micros(ts) div 1000000")
            - F.expr(
                "lag(unix_micros(ts) div 1000000) OVER (PARTITION BY "
                "user_id, event_type ORDER BY ts, event_id)"
            )
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_s").alias("n_gaps"),
        F.min("gap_s").alias("min_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
        r6(F.sum("gap_s").cast("double") / F.count("gap_s"))
        .alias("mean_gap_s"),
    )


# ---------------------------------------------------------------------------
# Burstiness (Fano factor): variance-to-mean ratio of per-minute event
# counts per type. Poisson arrivals give 1.0; bursty traffic is >> 1 —
# the capacity-planning companion to interevent_gap_stats. Same decimal
# moment recipe as the other second-moment statistics.
# ---------------------------------------------------------------------------


@register(
    "event_burstiness_fano",
    oracle="""
    WITH per_min AS (
      SELECT event_type, date_trunc('minute', ts) AS m, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    sums AS (
      SELECT event_type, count(*) AS k,
             CAST(ROUND(sum(CAST(n AS DECIMAL(27,6))), 6) AS DOUBLE) AS s1,
             CAST(ROUND(sum(CAST(n * n AS DECIMAL(27,6))), 6) AS DOUBLE)
               AS s2
      FROM per_min GROUP BY event_type
    )
    SELECT event_type, k AS n_minutes,
           CAST(ROUND(CAST(s1 / k AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS mean_per_min,
           CAST(ROUND(CAST(
             CASE WHEN s1 > 0
                  THEN (s2 / k - (s1 / k) * (s1 / k)) / (s1 / k) END
             AS DECIMAL(27,12)), 6) AS DOUBLE) AS fano_factor
    FROM sums
    """,
    description="Burstiness per event type: Fano factor (variance/mean) "
    "of per-minute counts from decimal-routed moment sums — Poisson "
    "traffic scores 1.0, bursts score higher. Two grouped aggregates; "
    "the capacity-planning companion to interevent_gap_stats.",
    tags=("temporal", "burstiness", "monitoring"),
)
def event_burstiness_fano(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    per_min = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("m")
    ).agg(F.count("*").alias("n"))
    sums = per_min.groupBy("event_type").agg(
        F.count("*").alias("k"),
        F.round(F.sum(F.expr("CAST(n AS DECIMAL(27,6))")), 6)
        .cast("double")
        .alias("s1"),
        F.round(F.sum(F.expr("CAST(n * n AS DECIMAL(27,6))")), 6)
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("k")
    fano = F.when(
        F.col("s1") > 0,
        (F.col("s2") / F.col("k") - mean * mean) / mean,
    )
    return sums.select(
        "event_type",
        F.col("k").alias("n_minutes"),
        r6(mean).alias("mean_per_min"),
        r6(fano).alias("fano_factor"),
    )


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation of values per event type: is the value series
# persistent (trending), white, or mean-reverting? Pearson r over
# (value_t, value_{t-1}) pairs from the same decimal moment recipe as
# discount_quantity_correlation — corr() itself is partition-order-
# dependent float on both engines.
# ---------------------------------------------------------------------------


@register(
    "value_autocorrelation_lag1",
    oracle="""
    WITH pairs AS (
      SELECT event_type, value AS y,
             lag(value) OVER (PARTITION BY event_type
                              ORDER BY ts, event_id) AS x
      FROM events
    ),
    sums AS (
      SELECT event_type, count(*) AS n,
             CAST(ROUND(sum(CAST(x AS DECIMAL(27,12))), 6) AS DOUBLE) AS sx,
             CAST(ROUND(sum(CAST(y AS DECIMAL(27,12))), 6) AS DOUBLE) AS sy,
             CAST(ROUND(sum(CAST(x * x AS DECIMAL(27,12))), 6) AS DOUBLE)
               AS sxx,
             CAST(ROUND(sum(CAST(y * y AS DECIMAL(27,12))), 6) AS DOUBLE)
               AS syy,
             CAST(ROUND(sum(CAST(x * y AS DECIMAL(27,12))), 6) AS DOUBLE)
               AS sxy
      FROM pairs WHERE x IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type, n AS n_pairs,
           CAST(ROUND(CAST(
             CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                  THEN (n * sxy - sx * sy)
                       / sqrt(n * sxx - sx * sx) / sqrt(n * syy - sy * sy)
             END AS DECIMAL(27,12)), 6) AS DOUBLE) AS acf1
    FROM sums
    """,
    description="Lag-1 autocorrelation of the value series per event type "
    "(time-ordered lag pairs, decimal-routed closed-form Pearson r) — "
    "persistent vs white vs mean-reverting diagnosis; one lag window + "
    "one grouped aggregate.",
    tags=("temporal", "autocorrelation", "timeseries"),
)
def value_autocorrelation_lag1(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    pairs = ev.select(
        "event_type",
        F.col("value").alias("y"),
        F.lag("value").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())

    sums = pairs.groupBy("event_type").agg(
        F.count("*").alias("n"),
        msum("x", "sx"),
        msum("y", "sy"),
        msum("x * x", "sxx"),
        msum("y * y", "syy"),
        msum("x * y", "sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.when(
        (vx > 0) & (vy > 0),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.sqrt(vx)
        / F.sqrt(vy),
    )
    return sums.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        r6(r).alias("acf1"),
    )


# ---------------------------------------------------------------------------
# Native session windows: Spark's session_window() operator — the built-in
# form of the lag+running-sum sessionization above, and the only form that
# also works as a streaming stateful aggregate (merging session state).
# Boundary semantics differ from the manual query deliberately: windows
# merge only while the next event starts STRICTLY before prev_ts + gap, so
# a gap of exactly 30 minutes starts a NEW session here (the manual
# sessionization keeps it; its break test is `> gap`). The oracle encodes
# the native rule with `>= gap`.
# ---------------------------------------------------------------------------

_SESSION_GAP_MS = 30 * 60 * 1000


@register(
    "session_window_native",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                    OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= {_SESSION_GAP_MS}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           CAST(ROUND(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
             AS total_value
    FROM numbered
    GROUP BY user_id, sid
    """,
    description="Per-user sessions via Spark's NATIVE session_window() "
    "(30-min gap): one grouped aggregation, no window functions — and the "
    "only sessionization form that runs as a streaming stateful aggregate "
    "with merging session state. Window end is last_event + gap, and an "
    "exactly-30-min gap starts a new session (strict-overlap merge rule; "
    "the manual lag-based `sessionization` keeps it — boundary semantics "
    "documented, oracle encodes the native rule). Scale shape: one "
    "shuffle on user_id with in-partition session merging — no sort-"
    "window pass over the fact table.",
    tags=("window", "timeseries", "session", "native"),
)
def session_window_native(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(dec("value", 18, 6)), 4)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Holt linear-trend filter (double exponential smoothing) over the hourly
# value series per event type, with a one-step-ahead forecast. The Holt
# recursion
#     l_t = a*x_t + (1-a)*(l_{t-1} + b_{t-1})
#     b_t = g*(l_t - l_{t-1}) + (1-g)*b_{t-1}
# is linear, so level and trend are fixed linear filters of the series:
# the lag-j coefficients are the recursion's impulse response, computed
# once at plan-build time in Python and baked as identical float literals
# into both engines (the ewma_smoothing recipe, extended with a trend
# state). We keep _HOLT_LAGS terms (impulse response decays geometrically)
# and emit only rows with a full lag window, so the sum is one fixed-order
# chain of lag() terms — bit-identical doubles, no recursion, no state.
#
# Scale: one hourly pre-aggregate (map-side combined, decimal-exact),
# one window shuffle on event_type over the tiny hourly series.
# ---------------------------------------------------------------------------

_HOLT_ALPHA = 0.5
_HOLT_GAMMA = 0.3
_HOLT_LAGS = 20


def _holt_weights() -> tuple[list[float], list[float]]:
    """Impulse response of the Holt recursion: run it on x = (1, 0, 0, …)
    with zero initial state; by linearity + time-invariance, l_t and b_t
    depend on x_{t-j} with exactly these coefficients."""
    a, g = _HOLT_ALPHA, _HOLT_GAMMA
    wl, wb = [], []
    l_prev = b_prev = 0.0
    for j in range(_HOLT_LAGS):
        x = 1.0 if j == 0 else 0.0
        level = a * x + (1 - a) * (l_prev + b_prev)
        trend = g * (level - l_prev) + (1 - g) * b_prev
        wl.append(level)
        wb.append(trend)
        l_prev, b_prev = level, trend
    return wl, wb


def _holt_oracle() -> str:
    wl, wb = _holt_weights()
    lev = " + ".join(
        f"({w!r} * lag(h, {j}) OVER w)" for j, w in enumerate(wl)
    )
    tre = " + ".join(
        f"({w!r} * lag(h, {j}) OVER w)" for j, w in enumerate(wb)
    )
    return f"""
    WITH hourly AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS h
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    filt AS (
      SELECT event_type, hour,
             row_number() OVER w AS rn,
             ({lev}) AS level_raw,
             ({tre}) AS trend_raw
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour)
    )
    SELECT event_type, hour,
           round(level_raw, 6) AS holt_level,
           round(trend_raw, 6) AS holt_trend,
           round(level_raw + trend_raw, 6) AS forecast_next_hour
    FROM filt WHERE rn >= {_HOLT_LAGS}
    """


@register(
    "holt_linear_forecast",
    oracle=_holt_oracle(),
    description=f"Holt double-exponential smoothing (alpha={_HOLT_ALPHA}, "
    f"gamma={_HOLT_GAMMA}) per event type over the decimal-exact hourly "
    f"value series: level and trend as {_HOLT_LAGS}-term linear filters "
    "whose lag coefficients are the recursion's impulse response (computed "
    "at plan-build time, baked as identical literals into both engines — "
    "the ewma recipe extended with a trend state), plus the one-step "
    "forecast level+trend. Full-window rows only, so the chain needs no "
    "head renormalization. One map-side-combined hourly aggregate + one "
    "window shuffle per type; each key's series filters independently at "
    "any scale.",
    tags=("window", "timeseries", "forecast", "smoothing"),
)
def holt_linear_forecast(spark, sf_dir):
    wl, wb = _holt_weights()
    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.sum(dec("value", 18, 6)).cast("double").alias("h"))
    w = Window.partitionBy("event_type").orderBy("hour")
    lags = [F.lag("h", j).over(w) for j in range(_HOLT_LAGS)]
    lev = None
    tre = None
    for lj, cl, cb in zip(lags, wl, wb):
        lterm = F.lit(cl) * lj
        bterm = F.lit(cb) * lj
        lev = lterm if lev is None else lev + lterm
        tre = bterm if tre is None else tre + bterm
    filt = hourly.select(
        "event_type",
        "hour",
        F.row_number().over(w).alias("rn"),
        lev.alias("level_raw"),
        tre.alias("trend_raw"),
    ).filter(F.col("rn") >= _HOLT_LAGS)
    return filt.select(
        "event_type",
        "hour",
        F.round("level_raw", 6).alias("holt_level"),
        F.round("trend_raw", 6).alias("holt_trend"),
        F.round(F.col("level_raw") + F.col("trend_raw"), 6).alias(
            "forecast_next_hour"
        ),
    )


# ---------------------------------------------------------------------------
# Event-sequence pattern matching (the MATCH_RECOGNIZE use case): each
# user's events collapse to an ordered journey string (one initial per
# event — the five types have distinct initials), and funnel patterns are
# counted with plain regexes. Regex counting is non-overlapping
# left-to-right in both engines, and the chosen patterns ('v[^p]*p',
# adjacent literals) have no greedy/lazy ambiguity, so the counts are
# exact integers.
#
# Scale: one shuffle groups each user's events; journey length is bounded
# by per-user activity, not corpus size (the collect_list is per-group and
# order-canonicalized by array_sort, never driver-side).
# ---------------------------------------------------------------------------


@register(
    "event_sequence_pattern",
    oracle="""
    WITH j AS (
      SELECT user_id,
             count(*) AS n_events,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS journey
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events, journey,
           substr(journey, 1, 1) = 's' AS starts_with_signup,
           CAST(len(regexp_extract_all(journey, 'v[^p]*p')) AS BIGINT)
             AS n_view_to_purchase,
           CAST(len(regexp_extract_all(journey, 'vc')) AS BIGINT)
             AS n_view_click_adjacent,
           CAST(len(regexp_extract_all(journey, 'p')) AS BIGINT)
             AS n_purchases
    FROM j
    """,
    description="MATCH_RECOGNIZE-style event-sequence mining: per user, "
    "events collapse to an ordered initials string (total order ts, "
    "event_id — Spark builds it with array_sort over collected structs, "
    "the oracle with ordered string_agg), then funnel patterns are "
    "counted by regex: view->...->purchase runs ('v[^p]*p'), adjacent "
    "view-click pairs, purchases, signup-first flag. Non-overlapping "
    "left-to-right matching is identical in both engines for these "
    "unambiguous patterns. One grouped shuffle; journey length is "
    "bounded by per-user activity.",
    tags=("sequence", "pattern", "funnel", "window"),
)
def event_sequence_pattern(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    j = (
        ev.select(
            "user_id",
            F.struct(
                "ts", "event_id", F.expr("substr(event_type, 1, 1)").alias("ini")
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(
                "concat_ws('', transform(array_sort(collect_list(s)), "
                "x -> x.ini))"
            ).alias("journey"),
        )
    )
    return j.select(
        "user_id",
        "n_events",
        "journey",
        (F.expr("substr(journey, 1, 1)") == "s").alias("starts_with_signup"),
        F.regexp_count("journey", F.lit("v[^p]*p"))
        .cast("long")
        .alias("n_view_to_purchase"),
        F.regexp_count("journey", F.lit("vc"))
        .cast("long")
        .alias("n_view_click_adjacent"),
        F.regexp_count("journey", F.lit("p")).cast("long").alias("n_purchases"),
    )


# ---------------------------------------------------------------------------
# Seasonal-adjusted anomaly detection (STL-lite): raw hourly volumes swing
# with the 7x24 weekly cycle, so a plain z-score flags every Monday
# morning. Subtract the (event_type, dow, hod) baseline mean first, THEN
# z-score the residuals per type. Determinism: the baseline mean is the
# decimal-routed ROUND(...,6) double (bit-identical), the residual is an
# exact double subtraction from an integer count, and the residual
# moments go through decimal sums (order-independent) — the
# rolling_zscore / threshold_alerts recipe applied to deseasonalized
# data.
#
# Scale: two grouped aggregates (hourly rollup, 7x24 baseline join is
# dim-sized broadcast) + one per-type moment aggregate; no windows, no
# state.
# ---------------------------------------------------------------------------


@register(
    "seasonal_adjusted_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type, dayofweek(h) + 1 AS dow, CAST(hour(h) AS INT) AS hod,
             CAST(ROUND(CAST(CAST(sum(n) AS DOUBLE) / count(*)
                             AS DECIMAL(27,12)), 6) AS DOUBLE) AS expected
      FROM hourly GROUP BY 1, 2, 3
    ),
    resid AS (
      SELECT h.event_type, h.h, h.n, b.expected,
             h.n - b.expected AS r
      FROM hourly h
      JOIN base b ON b.event_type = h.event_type
                 AND b.dow = dayofweek(h.h) + 1
                 AND b.hod = CAST(hour(h.h) AS INT)
    ),
    mom AS (
      SELECT event_type, count(*) AS k,
             CAST(ROUND(sum(CAST(r AS DECIMAL(27,12))), 6) AS DOUBLE) AS s1,
             CAST(ROUND(sum(CAST(r * r AS DECIMAL(27,12))), 6) AS DOUBLE)
               AS s2
      FROM resid GROUP BY event_type
    )
    SELECT r.event_type, r.h AS hour, CAST(r.n AS BIGINT) AS n_events,
           r.expected,
           CAST(ROUND(CAST(r.r AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS residual,
           (abs(r.r - m.s1 / m.k)
            > 3 * sqrt(greatest(m.s2 / m.k - (m.s1 / m.k) * (m.s1 / m.k),
                                0))) AS is_anomaly
    FROM resid r JOIN mom m ON m.event_type = r.event_type
    """,
    description="Seasonal-adjusted anomaly detection (STL-lite): hourly "
    "volumes minus the 7x24 (dow, hour-of-day) baseline mean per event "
    "type, residuals z-scored per type with decimal-exact moment sums, "
    "flag beyond 3 sigma. A plain z-score flags every weekly peak; the "
    "deseasonalized residual flags genuine surprises. Boolean output, so "
    "the float arithmetic only has to agree on the comparison; baseline "
    "join is a dim-sized broadcast, no windows, no state.",
    tags=("temporal", "seasonality", "anomaly", "monitoring"),
)
def seasonal_adjusted_anomaly(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n"))
    base = (
        hourly.groupBy(
            "event_type",
            F.dayofweek("h").alias("dow"),
            F.hour("h").cast("int").alias("hod"),
        )
        .agg(
            r6(F.sum("n").cast("double") / F.count("*")).alias("expected")
        )
    )
    # base derives from hourly — rename its key columns so the rejoin is
    # unambiguous (Spark's self-join lineage check).
    base = base.select(
        F.col("event_type").alias("b_type"),
        F.col("dow").alias("b_dow"),
        F.col("hod").alias("b_hod"),
        "expected",
    )
    resid = (
        hourly.join(
            F.broadcast(base),
            (F.col("event_type") == F.col("b_type"))
            & (F.dayofweek("h") == F.col("b_dow"))
            & (F.hour("h").cast("int") == F.col("b_hod")),
        )
        .select(
            "event_type",
            "h",
            "n",
            "expected",
            (F.col("n") - F.col("expected")).alias("r"),
        )
    )
    mom = resid.groupBy("event_type").agg(
        F.count("*").alias("k"),
        F.round(F.sum(F.expr("CAST(r AS DECIMAL(27,12))")), 6)
        .cast("double")
        .alias("s1"),
        F.round(F.sum(F.expr("CAST(r * r AS DECIMAL(27,12))")), 6)
        .cast("double")
        .alias("s2"),
    )
    mu = F.col("s1") / F.col("k")
    sig = F.sqrt(
        F.greatest(F.col("s2") / F.col("k") - mu * mu, F.lit(0.0))
    )
    return resid.join(F.broadcast(mom), "event_type").select(
        "event_type",
        F.col("h").alias("hour"),
        F.col("n").cast("long").alias("n_events"),
        "expected",
        r6(F.col("r")).alias("residual"),
        (F.abs(F.col("r") - mu) > 3 * sig).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Conversion latency quantiles: how long between a user's last click and
# the purchase it preceded — the funnel-timing evidence (attribution
# windows, session gaps, watermark delays are all set from this
# distribution). Composes the registered as-of join; latencies are exact
# int64 microsecond differences, and the nearest-rank quantiles use the
# distinct-value crossing test multiplied through to int64 (the
# token_weighted_quality_quantile recipe), so every selected value is
# exact in both engines.
# ---------------------------------------------------------------------------

_LAT_PCTS = [25, 50, 75, 90]


@register(
    "conversion_latency_quantiles",
    oracle=f"""
    WITH last_click AS (
      SELECT purchase_id, purchase_ts, click_ts
      FROM (
        SELECT p.event_id AS purchase_id, p.ts AS purchase_ts,
               c.ts AS click_ts,
               row_number() OVER (
                 PARTITION BY p.event_id
                 ORDER BY c.ts DESC, c.event_id DESC
               ) AS rn
        FROM events p
        LEFT JOIN events c
          ON c.user_id = p.user_id AND c.event_type = 'click'
         AND c.ts <= p.ts
        WHERE p.event_type = 'purchase'
      ) WHERE rn = 1
    ),
    lat AS (
      SELECT epoch_us(purchase_ts) - epoch_us(click_ts) AS lat_us
      FROM last_click WHERE click_ts IS NOT NULL
    ),
    grp AS (
      SELECT lat_us, count(*) AS c FROM lat GROUP BY lat_us
    ),
    win AS (
      SELECT lat_us,
             CAST(sum(c) OVER (ORDER BY lat_us) AS BIGINT) AS cum
      FROM grp
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM grp)
    SELECT p.pct,
           t.n AS n_conversions,
           min(w.lat_us) AS latency_us,
           CAST(ROUND(CAST(CAST(min(w.lat_us) AS DOUBLE) / 1000000.0
                           AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS latency_seconds
    FROM win w CROSS JOIN tot t
    CROSS JOIN (SELECT unnest([{", ".join(map(str, _LAT_PCTS))}]) AS pct) p
    WHERE w.cum * 100 >= p.pct * t.n
    GROUP BY p.pct, t.n
    """,
    description="Conversion latency quantiles (p25/p50/p75/p90): exact "
    "int64 microsecond gap between each purchase and the same user's "
    "last preceding click (composes the registered as-of join), "
    "nearest-rank quantiles by the distinct-value crossing test "
    "multiplied through to int64 — the funnel-timing evidence that "
    "attribution windows, session gaps, and stream watermarks are set "
    "from. One as-of window shuffle + one bounded quantile window over "
    "distinct latency values.",
    tags=("temporal", "asof-join", "quantile", "funnel"),
)
def conversion_latency_quantiles(spark, sf_dir):
    asof = asof_join_last_click(spark, sf_dir)
    lat = asof.filter(F.col("click_ts").isNotNull()).select(
        (
            F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
        ).alias("lat_us")
    )
    grp = lat.groupBy("lat_us").agg(F.count("*").alias("c"))
    # scale-ok: window over distinct latency values (bounded cardinality)
    wo = Window.orderBy("lat_us")
    win = grp.select(
        "lat_us", F.sum("c").over(wo).cast("long").alias("cum")
    )
    tot = grp.agg(F.sum("c").cast("long").alias("n"))
    pcts = F.explode(
        F.array(*[F.lit(p) for p in _LAT_PCTS])
    ).alias("pct")
    return (
        win.crossJoin(F.broadcast(tot))  # scale-ok: 1-row total
        .select("lat_us", "cum", "n", pcts)
        .filter(F.col("cum") * 100 >= F.col("pct") * F.col("n"))
        .groupBy("pct", F.col("n").alias("n_conversions"))
        .agg(
            F.min("lat_us").alias("latency_us"),
            r6(F.min("lat_us").cast("double") / 1000000.0)
            .alias("latency_seconds"),
        )
    )


# ---------------------------------------------------------------------------
# Hourly OHLC bars: open/high/low/close of the value series per event
# type — the canonical first/last-value aggregation (finance bars, sensor
# rollups). Open/close are selected by the deterministic total order
# (ts, event_id) via ranked windows, never by arrival order (Spark's
# first()/last() aggregate functions are partition-order-dependent and
# banned here); high/low/count are plain grouped aggregates. Values pass
# through unsummed, so no float arithmetic crosses engines at all.
# ---------------------------------------------------------------------------


@register(
    "ohlc_hourly_bars",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             ts, event_id, value
      FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT event_type, hour, value,
             row_number() OVER (PARTITION BY event_type, hour
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, hour
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM v
    )
    SELECT event_type, hour,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*) AS n_events
    FROM ranked GROUP BY event_type, hour
    """,
    description="Hourly OHLC bars per event type: open/close selected by "
    "the deterministic (ts, event_id) total order via ranked windows — "
    "never by arrival order (first()/last() aggregates are partition-"
    "order-dependent) — high/low/count as plain grouped aggregates. "
    "Values pass through unsummed, so no float arithmetic crosses "
    "engines. One shuffle on (type, hour); the downsampling primitive "
    "for dashboards and sensor rollups.",
    tags=("temporal", "window", "downsample", "aggregate"),
)
def ohlc_hourly_bars(spark, sf_dir):
    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hour"),
        "ts",
        "event_id",
        "value",
    )
    wa = Window.partitionBy("event_type", "hour").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "hour").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = v.select(
        "event_type",
        "hour",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return ranked.groupBy("event_type", "hour").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Daily active-user decomposition: new / returning / resurrected — the
# product-analytics triad behind every DAU chart (dau_by_nation counts
# heads; this explains them). A user is NEW on their first-ever day,
# RETURNING if active within the prior 7 days, RESURRECTED otherwise.
# Exact integer set logic over distinct (day, user) pairs; the trailing
# window is the bounded fan-out day join (<= 7 groups per pair).
# ---------------------------------------------------------------------------


@register(
    "dau_new_returning_resurrected",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ),
    first_day AS (
      SELECT user_id, min(day) AS first_seen FROM du GROUP BY user_id
    ),
    recent AS (
      SELECT DISTINCT a.day, b.user_id
      FROM (SELECT DISTINCT day FROM du) a
      JOIN du b ON b.day < a.day AND b.day >= a.day - INTERVAL 7 DAY
    ),
    tagged AS (
      SELECT d.day, d.user_id,
             CASE WHEN f.first_seen = d.day THEN 'new'
                  WHEN r.user_id IS NOT NULL THEN 'returning'
                  ELSE 'resurrected' END AS status
      FROM du d
      JOIN first_day f ON f.user_id = d.user_id
      LEFT JOIN recent r ON r.day = d.day AND r.user_id = d.user_id
    )
    SELECT day,
           count(*) AS n_active,
           CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(sum(CASE WHEN status = 'returning' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returning,
           CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_resurrected
    FROM tagged GROUP BY day
    """,
    description="Daily active users decomposed into new (first-ever day), "
    "returning (active within the prior 7 days), and resurrected (active "
    "before, but not in the last week) — the triad behind every DAU "
    "chart. Exact integer set logic over distinct (day, user) pairs; "
    "first-seen is one grouped min, the trailing-week membership is the "
    "bounded fan-out day join (<= 7 anchor groups per pair).",
    tags=("temporal", "retention", "product-analytics"),
)
def dau_new_returning_resurrected(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).distinct()
    first_day = du.groupBy("user_id").agg(F.min("day").alias("first_seen"))
    # Trailing-7-day membership as an EQUI join: each active (day, user)
    # pair fans out to its next 7 anchor days (aday in bday+1..bday+7 is
    # exactly bday < aday AND bday >= aday-7), then a plain hash join on
    # (day, user_id). Bounded 7x fan-out, shuffle-partitioned by key —
    # no user-scale broadcast (the pair set grows with users, not dims).
    recent = (
        du.select(
            F.explode(
                F.sequence(F.date_add("day", 1), F.date_add("day", 7))
            ).alias("day"),
            "user_id",
        )
        .distinct()
        .withColumn("recent", F.lit(1))
    )
    tagged = (
        du.join(first_day, "user_id")
        .join(recent, ["day", "user_id"], "left")
        .select(
            "day",
            F.when(F.col("first_seen") == F.col("day"), "new")
            .when(F.col("recent").isNotNull(), "returning")
            .otherwise("resurrected")
            .alias("status"),
        )
    )
    return tagged.groupBy("day").agg(
        F.count("*").alias("n_active"),
        F.sum(F.when(F.col("status") == "new", 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("status") == "returning", 1).otherwise(0))
        .cast("long")
        .alias("n_returning"),
        F.sum(F.when(F.col("status") == "resurrected", 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
    )


# ---------------------------------------------------------------------------
# Session bounce rate: share of sessions with exactly one event, per day
# — the engagement-quality headline on top of the sessionizer. Composes
# the registered lag-based sessionization rule (> 30 min gap starts a
# session); sessions are dated by their start. Exact integers plus one
# decimal-routed rate.
# ---------------------------------------------------------------------------


@register(
    "session_bounce_rate_daily",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) > 1800000
                  OR lag(epoch_ms(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, sid,
             CAST(date_trunc('day', min(ts)) AS DATE) AS day,
             count(*) AS n_events
      FROM numbered GROUP BY user_id, sid
    )
    SELECT day,
           count(*) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(ROUND(CAST(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0
                                    END) AS DOUBLE) / count(*)
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS bounce_rate
    FROM sessions GROUP BY day
    """,
    description="Session bounce rate per day: share of sessions with "
    "exactly one event, sessions dated by their start — the engagement "
    "headline on top of the registered 30-min-gap sessionization rule "
    "(same lag-based session numbering as the sessionization query). "
    "One per-user window pass + two grouped aggregates; exact integers, "
    "decimal-routed rate.",
    tags=("temporal", "session", "product-analytics"),
)
def session_bounce_rate_daily(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (
                F.unix_millis("ts") - F.lag(F.unix_millis("ts")).over(w)
                > 1800000
            )
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    numbered = flagged.select(
        "user_id", "ts", F.sum("is_new").over(wc).alias("sid")
    )
    sessions = numbered.groupBy("user_id", "sid").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("day"),
        F.count("*").alias("n_events"),
    )
    return sessions.groupBy("day").agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounces"),
        r6(
            F.sum(
                F.when(F.col("n_events") == 1, 1).otherwise(0)
            ).cast("double")
            / F.count("*")
        ).alias("bounce_rate"),
    )


# ---------------------------------------------------------------------------
# Hourly TWAP (time-weighted average value) per event type: each
# observation holds until the next one (last one holds to the hour end),
# so the average weighs VALUES BY DURATION — the sensor/finance statistic
# OHLC bars don't give (a spike lasting seconds barely moves TWAP but
# sets the bar's high). Durations are exact int64 microseconds from the
# deterministic (ts, event_id) order; value x duration products are
# decimal-routed, and the final division is one decimal-routed ratio.
# ---------------------------------------------------------------------------


@register(
    "twap_hourly",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             ts, event_id, value
      FROM events WHERE value IS NOT NULL
    ),
    seg AS (
      SELECT event_type, hour, value,
             coalesce(
               lead(epoch_us(ts)) OVER (PARTITION BY event_type, hour
                                        ORDER BY ts, event_id),
               epoch_us(hour + INTERVAL 1 HOUR)
             ) - epoch_us(ts) AS dur_us
      FROM v
    )
    SELECT event_type, hour,
           count(*) AS n_events,
           CAST(sum(dur_us) AS BIGINT) AS covered_us,
           CAST(ROUND(CAST(
             CAST(sum(CAST(value * dur_us AS DECIMAL(27,6))) AS DOUBLE)
             / sum(dur_us) AS DECIMAL(27,12)), 6) AS DOUBLE) AS twap
    FROM seg GROUP BY event_type, hour
    """,
    description="Hourly time-weighted average value per event type: each "
    "observation holds until the next (the last holds to the hour end), "
    "so values weigh by duration — the statistic OHLC bars miss (a "
    "seconds-long spike sets the high but barely moves TWAP). Exact "
    "int64 microsecond durations from the deterministic (ts, event_id) "
    "order, decimal-routed value x duration sums, one decimal-routed "
    "division. One window + one grouped aggregate on (type, hour).",
    tags=("temporal", "window", "downsample", "aggregate"),
)
def twap_hourly(spark, sf_dir):
    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hour"),
        "ts",
        "event_id",
        "value",
    )
    w = Window.partitionBy("event_type", "hour").orderBy("ts", "event_id")
    seg = v.select(
        "event_type",
        "hour",
        "value",
        (
            F.coalesce(
                F.lead(F.unix_micros("ts")).over(w),
                F.unix_micros(F.col("hour") + F.expr("INTERVAL 1 HOUR")),
            )
            - F.unix_micros("ts")
        ).alias("dur_us"),
    )
    return seg.groupBy("event_type", "hour").agg(
        F.count("*").alias("n_events"),
        F.sum("dur_us").cast("long").alias("covered_us"),
        r6(
            F.sum(
                F.expr("CAST(value * dur_us AS DECIMAL(27,6))")
            ).cast("double")
            / F.sum("dur_us")
        ).alias("twap"),
    )


# ---------------------------------------------------------------------------
# Temporal train/test split with leakage audit — the one split-family
# member the hash/cluster/balance suite doesn't cover: time-ordered data
# (forecasting, drift eval) must split ON TIME or the future leaks into
# training. The boundary is the first day whose cumulative event count
# crosses 80% (int64 crossing test over the day spine); the audit emits
# each side's min/max day so train_max < test_min is visible in the
# result itself. Exact integers throughout.
# ---------------------------------------------------------------------------


@register(
    "temporal_split_audit",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS c
      FROM events GROUP BY 1
    ),
    win AS (
      SELECT day, CAST(sum(c) OVER (ORDER BY day) AS BIGINT) AS cum
      FROM daily
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM daily),
    boundary AS (
      SELECT min(w.day) AS bday FROM win w CROSS JOIN tot t
      WHERE w.cum * 100 >= 80 * t.n
    ),
    assigned AS (
      SELECT e.event_type,
             CASE WHEN CAST(date_trunc('day', e.ts) AS DATE) <= b.bday
                  THEN 'train' ELSE 'test' END AS split,
             CAST(date_trunc('day', e.ts) AS DATE) AS day
      FROM events e CROSS JOIN boundary b
    )
    SELECT a.event_type, a.split,
           count(*) AS n_events,
           min(a.day) AS min_day,
           max(a.day) AS max_day,
           b.bday AS boundary_day
    FROM assigned a CROSS JOIN boundary b
    GROUP BY a.event_type, a.split, b.bday
    """,
    description="Temporal 80/20 train/test split with leakage audit: the "
    "boundary is the first day whose cumulative event count crosses 80% "
    "(int64 crossing test over the day spine); per (type, split) the "
    "result carries counts plus each side's min/max day, so "
    "train_max <= boundary < test_min is visible in the output — the "
    "time-ordered split the hash/cluster/balance split family cannot "
    "provide (future leakage). Day spine is dim-sized; one grouped scan.",
    tags=("temporal", "split", "audit", "llm-pipeline"),
)
def temporal_split_audit(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    daily = ev.groupBy(day.alias("day")).agg(F.count("*").alias("c"))
    # scale-ok: window over the dim-sized day spine
    wo = Window.orderBy("day")
    win = daily.select(
        "day", F.sum("c").over(wo).cast("long").alias("cum")
    )
    tot = daily.agg(F.sum("c").cast("long").alias("n"))
    boundary = (
        win.crossJoin(F.broadcast(tot))  # scale-ok: 1-row total
        .filter(F.col("cum") * 100 >= 80 * F.col("n"))
        .agg(F.min("day").alias("bday"))
    )
    assigned = ev.crossJoin(F.broadcast(boundary)).select(  # scale-ok: 1-row boundary
        "event_type",
        F.when(day <= F.col("bday"), "train").otherwise("test").alias(
            "split"
        ),
        day.alias("day"),
        "bday",
    )
    return assigned.groupBy("event_type", "split", F.col("bday").alias("boundary_day")).agg(
        F.count("*").alias("n_events"),
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
    ).select(
        "event_type", "split", "n_events", "min_day", "max_day",
        "boundary_day",
    )


# ---------------------------------------------------------------------------
# Day-over-day / week-over-week value report: the BI headline deltas on
# the daily spine. Daily totals are decimal-exact; the DoD/WoW lags run
# on the dim-sized day series, and pct changes are decimal-routed ratios
# of the already-rounded daily doubles.
# ---------------------------------------------------------------------------


@register(
    "value_dod_wow_report",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(ROUND(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
               AS total
      FROM events WHERE value IS NOT NULL
      GROUP BY 1
    ),
    lagged AS (
      SELECT day, total,
             lag(total, 1) OVER (ORDER BY day) AS prev_day,
             lag(total, 7) OVER (ORDER BY day) AS prev_week
      FROM daily
    )
    SELECT day, total, prev_day, prev_week,
           CAST(ROUND(CAST((total - prev_day) / prev_day
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS dod_pct,
           CAST(ROUND(CAST((total - prev_week) / prev_week
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS wow_pct
    FROM lagged
    """,
    description="Day-over-day and week-over-week value deltas on the "
    "daily spine: decimal-exact daily totals, lag(1)/lag(7) on the "
    "dim-sized day series, decimal-routed pct changes of the already-"
    "rounded doubles — the BI headline report. One grouped scan + one "
    "bounded window.",
    tags=("temporal", "window", "bi", "aggregate"),
)
def value_dod_wow_report(spark, sf_dir):
    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.round(F.sum(dec("value", 18, 6)), 4).cast("double").alias("total")
    )
    # scale-ok: window over the dim-sized day spine
    wo = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "total",
        F.lag("total", 1).over(wo).alias("prev_day"),
        F.lag("total", 7).over(wo).alias("prev_week"),
    )

    total = F.col("total")
    return lagged.select(
        "day",
        "total",
        "prev_day",
        "prev_week",
        r6((total - F.col("prev_day")) / F.col("prev_day")).alias("dod_pct"),
        r6((total - F.col("prev_week")) / F.col("prev_week")).alias("wow_pct"),
    )


# ---------------------------------------------------------------------------
# Top user journeys: the most common event-sequence strings — the path-
# analysis headline on top of event_sequence_pattern's per-user journeys
# (which products' flows dominate the traffic). Exact counts, bounded
# top-k window, decimal-routed share.
# ---------------------------------------------------------------------------

_TJ_TOPK = 10


@register(
    "top_user_journeys",
    oracle=f"""
    WITH j AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS journey
      FROM events GROUP BY user_id
    ),
    grp AS (
      SELECT journey, count(*) AS n_users FROM j GROUP BY journey
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM j)
    SELECT g.journey, CAST(g.n_users AS BIGINT) AS n_users, rk,
           CAST(ROUND(CAST(CAST(g.n_users AS DOUBLE) / t.n
                           AS DECIMAL(27,12)), 6) AS DOUBLE) AS share
    FROM (
      SELECT journey, n_users,
             row_number() OVER (ORDER BY n_users DESC, journey) AS rk
      FROM grp
    ) g CROSS JOIN tot t
    WHERE rk <= {_TJ_TOPK}
    """,
    description=f"Top {_TJ_TOPK} user journeys by frequency: the ordered "
    "event-initial strings (same deterministic construction as "
    "event_sequence_pattern) grouped and ranked with a lexical "
    "tiebreak, with each journey's user share — the path-analysis "
    "headline. One journey shuffle + a journey-cardinality-bounded "
    "top-k window.",
    tags=("sequence", "pattern", "bi", "product-analytics"),
)
def top_user_journeys(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    j = (
        ev.select(
            "user_id",
            F.struct(
                "ts",
                "event_id",
                F.expr("substr(event_type, 1, 1)").alias("ini"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.expr(
                "concat_ws('', transform(array_sort(collect_list(s)), "
                "x -> x.ini))"
            ).alias("journey")
        )
    )
    grp = j.groupBy("journey").agg(F.count("*").alias("n_users"))
    tot = j.agg(F.count("*").cast("long").alias("n"))
    # scale-ok: top-k window over distinct journey strings (bounded)
    wr = Window.orderBy(F.col("n_users").desc(), "journey")
    return (
        grp.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _TJ_TOPK)
        .crossJoin(F.broadcast(tot))  # scale-ok: 1-row total
        .select(
            "journey",
            F.col("n_users").cast("long").alias("n_users"),
            "rk",
            r6(F.col("n_users").cast("double") / F.col("n")).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# SCD Type 2 dimension build: rebuild a slowly-changing-dimension history
# table from the raw event log — the Kimball warehouse-modeling operator
# the reference's JDBC warehouse sink (SURVEY.md §2 S18) would feed at
# scale. The tracked attribute is the coarse bucket of the JSON payload's
# ``k`` field (k div 25): per user, each run of consecutive equal attr
# values is one dimension VERSION with [valid_from, valid_to) validity
# and an is_current flag on the open version.
#
# Scale shape: one shuffle on user_id shared by both window passes — the
# change-detection lag runs over the event rows, and the version
# numbering/lead runs over the (much smaller) change rows, which keep
# the same partitioning so no second exchange. The rebuild-from-log form
# is the batch/backfill path; the incremental path at 100 TB is the
# registered streaming upsert (operators/upsert.py) applying the same
# change rule per micro-batch.
# ---------------------------------------------------------------------------


def scd2_parse(spark, sf_dir):
    """(user_id, ts, event_id, attr): the tracked attribute stream the
    SCD2 build and its incremental streaming twin both version."""
    from pyspark.sql import types as T_

    ev = T(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    schema = T_.StructType([T_.StructField("k", T_.LongType())])
    return ev.withColumn("p", F.from_json("props", schema)).select(
        "user_id", "ts", "event_id", F.expr("p.k div 25").alias("attr")
    )


def scd2_versions(parsed):
    """(user_id, ts, event_id, attr) -> SCD2 version rows. Shared by the
    batch rebuild and the per-batch scoped recompute in
    streaming/incremental_scd2.py — one definition of 'version' so the
    incremental path cannot drift from the batch one."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = parsed.withColumn(
        "chg",
        F.lag("event_id").over(w).isNull()
        | ~F.col("attr").eqNullSafe(F.lag("attr").over(w)),
    )
    versions = flagged.filter(F.col("chg")).select(
        "user_id", "attr", F.col("ts").alias("valid_from"), "event_id"
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return versions.select(
        "user_id",
        "attr",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.row_number().over(w2).alias("version"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


SCD2_ORACLE = """
    WITH parsed AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract(props, '$.k') AS BIGINT) // 25 AS attr
      FROM events WHERE props IS NOT NULL
    ),
    flagged AS (
      SELECT user_id, ts, event_id, attr,
             CASE WHEN lag(event_id) OVER w IS NULL
                    OR attr IS DISTINCT FROM lag(attr) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM parsed
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    versions AS (
      SELECT user_id, attr, ts AS valid_from, event_id
      FROM flagged WHERE chg = 1
    )
    SELECT user_id, attr, valid_from,
           lead(valid_from) OVER w2 AS valid_to,
           row_number() OVER w2 AS version,
           (lead(valid_from) OVER w2 IS NULL) AS is_current
    FROM versions
    WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    """


@register(
    "scd2_dimension_build",
    oracle=SCD2_ORACLE,
    description="SCD Type 2 dimension rebuild from the event log: per "
    "user, each run of consecutive equal attribute values (the JSON "
    "payload's k field bucketed by integer div 25) becomes one dimension "
    "version with [valid_from, valid_to) validity, version number, and "
    "an is_current flag — the Kimball warehouse-history operator, "
    "deterministic under the (ts, event_id) total order with null-safe "
    "change detection (IS DISTINCT FROM). One shuffle on user_id: the "
    "change-detection lag scans event rows, then version numbering and "
    "the closing lead run over the change rows only, reusing the "
    "partitioning. The batch/backfill path; incremental maintenance is "
    "the streaming upsert tier.",
    tags=("temporal", "window", "warehouse", "scd2"),
    bench=True,  # promoted r7: the warehouse-history flagship
)
def scd2_dimension_build(spark, sf_dir):
    return scd2_versions(scd2_parse(spark, sf_dir))


# ---------------------------------------------------------------------------
# Multi-touch attribution: equal-credit (linear) attribution of each
# purchase to the views in its 7-day lookback, in pure integers.
# ---------------------------------------------------------------------------


@register(
    "attribution_multi_touch",
    oracle="""
    WITH touches AS (
      SELECT p.event_id AS purchase_id, v.event_id AS touch_id,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY v.ts DESC, v.event_id)
               AS touch_rank,
             count(*) OVER (PARTITION BY p.event_id) AS n_touches
      FROM events p
      JOIN events v
        ON v.user_id = p.user_id AND v.event_type = 'view'
       AND v.ts < p.ts AND v.ts >= p.ts - INTERVAL 7 DAY
      WHERE p.event_type = 'purchase'
    )
    SELECT purchase_id, touch_id, touch_rank,
           CAST(n_touches AS BIGINT) AS n_touches,
           CAST((1000 // n_touches)
                + CASE WHEN touch_rank = 1 THEN 1000 % n_touches
                       ELSE 0 END AS BIGINT) AS credit_permille
    FROM touches
    """,
    description="Multi-touch (linear) attribution: every view in the "
    "7-day lookback window before a purchase receives an equal integer "
    "per-mille share of the credit, with the integer-division remainder "
    "assigned to the most recent touch (rank 1 under the (ts desc, "
    "event_id) total order) so each purchase's credits sum to exactly "
    "1000 — the attribution statement marketing pipelines reconcile "
    "against, exact cross-engine because no float ever appears. Same "
    "scale shape as the registered range join: equi-join on user_id "
    "with the time range as a join-time filter (user-bucketed layout "
    "removes the shuffle), then per-purchase ranking windows over the "
    "bounded lookback fan-out.",
    tags=("temporal", "range-join", "attribution", "window"),
)
def attribution_multi_touch(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("touch_id"),
    )
    touches = p.join(
        v,
        (p.user_id == v.v_user_id)
        & (F.col("v_ts") < F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    wr = Window.partitionBy("purchase_id").orderBy(
        F.col("v_ts").desc(), F.col("touch_id")
    )
    wc = Window.partitionBy("purchase_id")
    return (
        touches.withColumn("touch_rank", F.row_number().over(wr))
        .withColumn("n_touches", F.count(F.lit(1)).over(wc).cast("long"))
        .select(
            "purchase_id",
            "touch_id",
            "touch_rank",
            "n_touches",
            (
                F.expr("1000 div n_touches")
                + F.when(
                    F.col("touch_rank") == 1, F.expr("1000 % n_touches")
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("credit_permille"),
        )
    )


# ---------------------------------------------------------------------------
# Dimension snapshot diff: what changed between the SCD2 dimension as of
# a cutoff and the dimension now — the table-format snapshot diff as a
# query.
# ---------------------------------------------------------------------------

_DIFF_CUT_DAYS = 24  # cutoff = min(ts) + 24 days (events span ~30 days)


def _scd2_cte(suffix: str, where: str) -> str:
    """One SCD2 version build as oracle CTEs with a name suffix."""
    return f"""
    flagged{suffix} AS (
      SELECT user_id, ts, event_id, attr,
             CASE WHEN lag(event_id) OVER w IS NULL
                    OR attr IS DISTINCT FROM lag(attr) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM parsed {where}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    dim{suffix} AS (
      SELECT user_id, attr, valid_from,
             lead(valid_from) OVER w2 AS valid_to,
             row_number() OVER w2 AS version,
             (lead(valid_from) OVER w2 IS NULL) AS is_current
      FROM (
        SELECT user_id, attr, ts AS valid_from, event_id
        FROM flagged{suffix} WHERE chg = 1
      )
      WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    )"""


@register(
    "dim_snapshot_diff",
    oracle=f"""
    WITH parsed AS MATERIALIZED (
      SELECT user_id, ts, event_id,
             CAST(json_extract(props, '$.k') AS BIGINT) // 25 AS attr
      FROM events WHERE props IS NOT NULL
    ),
    cutoff AS (
      SELECT min(ts) + INTERVAL {_DIFF_CUT_DAYS} DAY AS cut FROM parsed
    ),
    {_scd2_cte('1', 'WHERE ts < (SELECT cut FROM cutoff)')},
    {_scd2_cte('2', '')}
    SELECT coalesce(n.user_id, o.user_id) AS user_id,
           coalesce(n.version, o.version) AS version,
           CASE WHEN o.user_id IS NULL THEN 'added'
                WHEN n.user_id IS NULL THEN 'removed'
                WHEN o.attr IS NOT DISTINCT FROM n.attr
                 AND o.valid_from IS NOT DISTINCT FROM n.valid_from
                 AND o.valid_to IS NOT DISTINCT FROM n.valid_to
                 AND o.is_current IS NOT DISTINCT FROM n.is_current
                THEN 'unchanged' ELSE 'changed' END AS change_type,
           n.attr AS attr, n.valid_from AS valid_from,
           n.valid_to AS valid_to, n.is_current AS is_current
    FROM dim1 o
    FULL OUTER JOIN dim2 n
      ON n.user_id = o.user_id AND n.version = o.version
    """,
    description=f"Dimension snapshot diff — the table-format snapshot "
    "comparison as a query: the SCD2 dimension built from events before "
    f"a cutoff (corpus min(ts) + {_DIFF_CUT_DAYS} days) FULL OUTER "
    "joined on (user_id, version) against the dimension built from the "
    "full log, each row classified added / changed / unchanged "
    "(removed is defensive: appending later events can close or extend "
    "versions but never delete one — the diff PROVES that invariant "
    "when no removed row appears). Null-safe comparison on every "
    "tracked column; this is the audit a warehouse runs after an "
    "incremental upsert window to see exactly which history rows the "
    "new data touched. One shuffle per snapshot build plus the "
    "user-keyed diff join; both builds share the parsed event scan.",
    tags=("temporal", "warehouse", "scd2", "audit"),
)
def dim_snapshot_diff(spark, sf_dir):
    parsed = scd2_parse(spark, sf_dir).persist()
    cut = F.broadcast(
        parsed.agg(
            (F.min("ts") + F.expr(f"INTERVAL {_DIFF_CUT_DAYS} DAYS")).alias(
                "cut"
            )
        )
    )
    old_events = (
        parsed.crossJoin(cut)  # scale-ok: 1-row broadcast cutoff scalar
        .filter(F.col("ts") < F.col("cut"))
        .select("user_id", "ts", "event_id", "attr")
    )
    o = scd2_versions(old_events).alias("o")
    n = scd2_versions(parsed).alias("n")
    same = (
        F.col("o.attr").eqNullSafe(F.col("n.attr"))
        & F.col("o.valid_from").eqNullSafe(F.col("n.valid_from"))
        & F.col("o.valid_to").eqNullSafe(F.col("n.valid_to"))
        & F.col("o.is_current").eqNullSafe(F.col("n.is_current"))
    )
    return (
        o.join(
            n,
            (F.col("o.user_id") == F.col("n.user_id"))
            & (F.col("o.version") == F.col("n.version")),
            "full_outer",
        )
        .select(
            F.coalesce("n.user_id", "o.user_id").alias("user_id"),
            F.coalesce("n.version", "o.version").alias("version"),
            F.when(F.col("o.user_id").isNull(), "added")
            .when(F.col("n.user_id").isNull(), "removed")
            .when(same, "unchanged")
            .otherwise("changed")
            .alias("change_type"),
            F.col("n.attr").alias("attr"),
            F.col("n.valid_from").alias("valid_from"),
            F.col("n.valid_to").alias("valid_to"),
            F.col("n.is_current").alias("is_current"),
        )
    )


# ---------------------------------------------------------------------------
# Change data feed build: the ROW-LEVEL consumable delta between two
# snapshot states — what Delta's CDF / Iceberg's changelog scan emits and
# what cdc_merge_apply / incremental_join_view_maintenance consume. The
# companion dim_snapshot_diff is the version-grain AUDIT (every history
# row classified, unchanged included); the feed emits only changes, as
# row images: insert (postimage only), update (preimage + postimage
# rows), delete (defensive — the append-only log never produces one,
# and the feed PROVES that when no delete row appears).
# ---------------------------------------------------------------------------


@register(
    "change_data_feed_build",
    oracle=f"""
    WITH parsed AS MATERIALIZED (
      SELECT user_id, ts, event_id,
             CAST(json_extract(props, '$.k') AS BIGINT) // 25 AS attr
      FROM events WHERE props IS NOT NULL
    ),
    cutoff AS (
      SELECT min(ts) + INTERVAL {_DIFF_CUT_DAYS} DAY AS cut FROM parsed
    ),
    old_state AS (
      SELECT user_id, attr FROM (
        SELECT user_id, attr, row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM parsed WHERE ts < (SELECT cut FROM cutoff)
      ) WHERE rn = 1
    ),
    new_state AS (
      SELECT user_id, attr FROM (
        SELECT user_id, attr, row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM parsed
      ) WHERE rn = 1
    ),
    j AS (
      SELECT o.user_id AS ou, n.user_id AS nu, o.attr AS oa, n.attr AS na
      FROM old_state o FULL OUTER JOIN new_state n ON n.user_id = o.user_id
    )
    SELECT user_id, change_type, attr,
           CAST(2 AS BIGINT) AS commit_version
    FROM (
      SELECT nu AS user_id, 'insert' AS change_type, na AS attr
      FROM j WHERE ou IS NULL
      UNION ALL
      SELECT ou, 'delete', oa FROM j WHERE nu IS NULL
      UNION ALL
      SELECT nu, 'update_preimage', oa
      FROM j WHERE ou IS NOT NULL AND nu IS NOT NULL
        AND oa IS DISTINCT FROM na
      UNION ALL
      SELECT nu, 'update_postimage', na
      FROM j WHERE ou IS NOT NULL AND nu IS NOT NULL
        AND oa IS DISTINCT FROM na
    )
    """,
    description=f"Change-data-feed build (the Delta CDF / Iceberg "
    "changelog primitive): the current per-user attribute state as of "
    f"a cutoff (corpus min(ts) + {_DIFF_CUT_DAYS} days) full-outer "
    "joined against the state now, emitting ONLY changes as row "
    "images — insert rows carry the postimage, updates emit a "
    "preimage AND a postimage row (the two-row contract CDC consumers "
    "key on), delete is defensive (the append-only log can never "
    "produce one — the feed proves that invariant when no delete row "
    "appears). Companion to dim_snapshot_diff, which is the "
    "version-grain audit INCLUDING unchanged rows; the feed is the "
    "consumable delta that cdc_merge_apply and the IVM queries ingest. "
    "Scale: two argmax-window passes over one shared parsed scan plus "
    "one user-keyed full-outer join; feed size is O(changed keys), "
    "never O(history).",
    tags=("temporal", "warehouse", "cdc", "lakehouse", "incremental"),
    bench=True,  # promoted r8: round-8 flagship
)
def change_data_feed_build(spark, sf_dir):
    parsed = scd2_parse(spark, sf_dir).persist()
    cut = F.broadcast(
        parsed.agg(
            (F.min("ts") + F.expr(f"INTERVAL {_DIFF_CUT_DAYS} DAYS")).alias(
                "cut"
            )
        )
    )

    def state(df):
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "attr")
        )

    old = state(
        parsed.crossJoin(cut)  # scale-ok: 1-row broadcast cutoff scalar
        .filter(F.col("ts") < F.col("cut"))
    ).alias("o")
    new = state(parsed).alias("n")
    j = old.join(
        new, F.col("o.user_id") == F.col("n.user_id"), "full_outer"
    ).select(
        F.col("o.user_id").alias("ou"),
        F.col("n.user_id").alias("nu"),
        F.col("o.attr").alias("oa"),
        F.col("n.attr").alias("na"),
    ).persist()  # four feed arms read it
    changed = (
        F.col("ou").isNotNull()
        & F.col("nu").isNotNull()
        & ~F.col("oa").eqNullSafe(F.col("na"))
    )
    arms = [
        j.filter(F.col("ou").isNull()).select(
            F.col("nu").alias("user_id"),
            F.lit("insert").alias("change_type"),
            F.col("na").alias("attr"),
        ),
        j.filter(F.col("nu").isNull()).select(
            F.col("ou").alias("user_id"),
            F.lit("delete").alias("change_type"),
            F.col("oa").alias("attr"),
        ),
        j.filter(changed).select(
            F.col("nu").alias("user_id"),
            F.lit("update_preimage").alias("change_type"),
            F.col("oa").alias("attr"),
        ),
        j.filter(changed).select(
            F.col("nu").alias("user_id"),
            F.lit("update_postimage").alias("change_type"),
            F.col("na").alias("attr"),
        ),
    ]
    feed = arms[0]
    for a in arms[1:]:
        feed = feed.unionByName(a)
    return feed.select(
        "user_id",
        "change_type",
        "attr",
        F.lit(2).cast("long").alias("commit_version"),
    )


# ---------------------------------------------------------------------------
# User lifespan survival curve (Kaplan-Meier over exact integer counts).
# ---------------------------------------------------------------------------

_SURV_DAYS = 30  # the events corpus spans ~30 days at every SF


@register(
    "user_lifespan_survival",
    oracle=f"""
    WITH life AS (
      SELECT user_id,
             date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
               AS span_days
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT count(*) AS n FROM life),
    hist AS (SELECT span_days, count(*) AS c FROM life GROUP BY 1),
    grid AS (SELECT unnest(range(0, {_SURV_DAYS})) AS day_offset)
    SELECT g.day_offset,
           CAST(coalesce(sum(CASE WHEN h.span_days >= g.day_offset
                                  THEN h.c ELSE 0 END), 0) AS BIGINT)
             AS n_surviving,
           CAST((1000 * coalesce(sum(CASE WHEN h.span_days >= g.day_offset
                                          THEN h.c ELSE 0 END), 0))
                // (SELECT n FROM tot) AS BIGINT) AS survival_permille
    FROM grid g CROSS JOIN hist h
    GROUP BY g.day_offset
    """,
    description=f"User-lifespan survival curve: for each day offset d in "
    f"[0, {_SURV_DAYS}), the number and exact integer per-mille share of "
    "users whose observed lifespan (calendar days between first and last "
    "event) is at least d — the retention/survival statistic cohort "
    "tables approximate, computed exactly. Scale shape: one "
    "map-side-combined group-by per user for the lifespans, then a "
    f"{_SURV_DAYS}-row histogram; the survival suffix-sum runs on the "
    "HISTOGRAM cross-joined with the day grid (bounded by days², never "
    "users x days), so the curve costs one user-keyed aggregate at any "
    "corpus size. All integers.",
    tags=("temporal", "analytics", "retention"),
)
def user_lifespan_survival(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    life = e.groupBy("user_id").agg(
        F.datediff(
            F.max("ts").cast("date"), F.min("ts").cast("date")
        ).alias("span_days")
    )
    hist = life.groupBy("span_days").agg(F.count("*").alias("c"))
    tot = F.broadcast(life.agg(F.count("*").alias("n")))
    grid = spark.range(0, _SURV_DAYS).select(
        F.col("id").cast("long").alias("day_offset")
    )
    surviving = (
        grid.crossJoin(hist)  # scale-ok: day-grid x bounded histogram
        .groupBy("day_offset")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("span_days") >= F.col("day_offset"),
                        F.col("c"),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_surviving")
        )
    )
    return surviving.crossJoin(tot).select(  # scale-ok: 1-row total
        "day_offset",
        "n_surviving",
        F.expr("CAST((1000 * n_surviving) div n AS BIGINT)").alias(
            "survival_permille"
        ),
    )


# ---------------------------------------------------------------------------
# Point-in-time dimension enrichment: the SCD2 consumer join.
# ---------------------------------------------------------------------------


@register(
    "dim_asof_enrichment",
    oracle=f"""
    WITH parsed AS MATERIALIZED (
      SELECT user_id, ts, event_id,
             CAST(json_extract(props, '$.k') AS BIGINT) // 25 AS attr
      FROM events WHERE props IS NOT NULL
    ),
    {_scd2_cte('2', '')}
    SELECT p.event_id AS purchase_id, p.user_id, p.ts,
           d.attr AS attr_at_purchase, d.version
    FROM events p
    LEFT JOIN dim2 d
      ON d.user_id = p.user_id
     AND d.valid_from <= p.ts
     AND (d.valid_to IS NULL OR p.ts < d.valid_to)
    WHERE p.event_type = 'purchase'
    """,
    description="Point-in-time dimension enrichment — the join every "
    "SCD2 dimension exists to serve: each purchase event picks up the "
    "attribute version that was valid AT ITS TIMESTAMP "
    "(valid_from <= ts < valid_to, open version unbounded). Validity "
    "intervals are disjoint per user by construction, so the interval "
    "join matches at most one version per fact row — no dedup step, "
    "no row explosion. Scale shape: an equi join on user_id with the "
    "interval predicate as a join-time filter (the as-of shape; "
    "user-bucketed layout removes the shuffle), dimension side is the "
    "version table, orders of magnitude smaller than the event log. "
    "Composes the registered scd2_versions definition.",
    tags=("temporal", "warehouse", "scd2", "asof"),
)
def dim_asof_enrichment(spark, sf_dir):
    dim = scd2_versions(scd2_parse(spark, sf_dir))
    p = (
        T(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "ts",
        )
    )
    d = dim.alias("d")
    return (
        p.alias("p")
        .join(
            d,
            (F.col("p.user_id") == F.col("d.user_id"))
            & (F.col("d.valid_from") <= F.col("p.ts"))
            & (
                F.col("d.valid_to").isNull()
                | (F.col("p.ts") < F.col("d.valid_to"))
            ),
            "left",
        )
        .select(
            "purchase_id",
            F.col("p.user_id").alias("user_id"),
            F.col("p.ts").alias("ts"),
            F.col("d.attr").alias("attr_at_purchase"),
            F.col("d.version").alias("version"),
        )
    )


# ---------------------------------------------------------------------------
# Order backlog curve: sweep-line interval counting over the date grid.
# ---------------------------------------------------------------------------


@register(
    "order_backlog_curve",
    oracle="""
    WITH spans AS (
      SELECT o.o_orderkey,
             CAST(o.o_orderdate AS DATE) AS start_day,
             CAST(max(l.l_shipdate) AS DATE) AS end_day
      FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
      SELECT start_day AS day, count(*) AS opened, 0 AS closed
      FROM spans GROUP BY start_day
      UNION ALL
      SELECT end_day + INTERVAL 1 DAY AS day, 0 AS opened,
             count(*) AS closed
      FROM spans WHERE end_day IS NOT NULL GROUP BY end_day
    ),
    bounds AS (
      SELECT min(start_day) AS lo,
             max(greatest(coalesce(end_day, start_day), start_day)) AS hi
      FROM spans
    ),
    grid AS (
      SELECT CAST(unnest(generate_series(
               (SELECT lo FROM bounds),
               (SELECT hi FROM bounds),
               INTERVAL 1 DAY)) AS DATE) AS day
    ),
    daily AS (
      SELECT g.day,
             CAST(coalesce(sum(d.opened), 0) AS BIGINT) AS n_opened,
             CAST(coalesce(sum(d.closed), 0) AS BIGINT) AS n_closed
      FROM grid g LEFT JOIN deltas d ON d.day = g.day
      GROUP BY g.day
    )
    SELECT day, n_opened, n_closed,
           CAST(sum(n_opened - n_closed) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_open
    FROM daily
    """,
    description="Order backlog curve by sweep-line interval counting: "
    "an order is open from its order date until its last lineitem ship "
    "date (orders with no lineitems yet never close — they ARE "
    "backlog); the curve reports, for every calendar day in the corpus "
    "span, how many orders opened, closed, and remain open. The naive "
    "form is a days x orders interval cross join; this one reduces "
    "each order to two DELTA rows (+1 at start, -1 the day after "
    "close), aggregates deltas per day (map-side combined, bounded by "
    "the date domain), and takes ONE running sum over the "
    "days-sized grid — the difference-array pattern for any "
    "interval-count statistic (open tickets, active sessions, "
    "concurrent jobs) at unbounded fact scale. All integers.",
    tags=("temporal", "analytics", "sweep-line", "relational"),
)
def order_backlog_curve(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    spans = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("ship_end"))
        .select(
            F.col("o_orderdate").cast("date").alias("start_day"),
            F.col("ship_end").cast("date").alias("end_day"),
        )
    )  # end_day NULL = no lineitems yet: the order stays open forever
    deltas = (
        spans.groupBy(F.col("start_day").alias("day"))
        .agg(F.count("*").alias("opened"), F.lit(0).alias("closed"))
        .unionByName(
            spans.filter(F.col("end_day").isNotNull())
            .groupBy(F.date_add(F.col("end_day"), 1).alias("day"))
            .agg(F.lit(0).alias("opened"), F.count("*").alias("closed"))
        )
    )
    bounds = spans.agg(
        F.min("start_day").alias("lo"),
        F.max(
            F.greatest(
                F.coalesce("end_day", "start_day"), F.col("start_day")
            )
        ).alias("hi"),
    )
    grid = (
        bounds.select(
            F.explode(
                F.expr("sequence(lo, hi, interval 1 day)")
            ).alias("day")
        )
    )
    daily = (
        # deltas is bounded by the date domain (two rows per active day)
        # — broadcast the RIGHT side of the grid's left join.
        grid.join(F.broadcast(deltas), "day", "left")
        .groupBy("day")
        .agg(
            F.coalesce(F.sum("opened"), F.lit(0))
            .cast("long")
            .alias("n_opened"),
            F.coalesce(F.sum("closed"), F.lit(0))
            .cast("long")
            .alias("n_closed"),
        )
    )
    # The running sum runs over the DAYS-sIZED grid (~2,500 rows at any
    # fact scale) — a bounded single-partition window, same class as the
    # survival curve's histogram pass.
    w = (
        Window.orderBy("day")  # scale-ok: date-domain-bounded frame
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.withColumn(
        "n_open",
        F.sum(F.col("n_opened") - F.col("n_closed")).over(w).cast("long"),
    )


# ---------------------------------------------------------------------------
# Snapshot retention / VACUUM planning over the SCD2 version history.
# ---------------------------------------------------------------------------

_RETAIN_DAYS = 7


@register(
    "snapshot_retention_plan",
    oracle=f"""
    WITH sv AS ({SCD2_ORACLE}),
    h AS (SELECT max(ts) - INTERVAL {_RETAIN_DAYS} DAY AS horizon
          FROM events),
    tagged AS (
      SELECT *,
             CASE WHEN is_current
                       OR valid_to > (SELECT horizon FROM h)
                  THEN 'keep' ELSE 'expire' END AS status
      FROM sv
    ),
    tot AS (SELECT count(*) AS n FROM tagged)
    SELECT status,
           count(*) AS n_versions,
           count(DISTINCT user_id) AS n_users,
           min(valid_from) AS min_valid_from,
           max(valid_to) AS max_valid_to,
           CAST((1000 * count(*)) // (SELECT n FROM tot) AS BIGINT)
             AS share_permille
    FROM tagged GROUP BY status
    """,
    description="Snapshot-retention / VACUUM planning over the SCD2 "
    f"dimension history (the table-format retention operator): with a "
    f"{_RETAIN_DAYS}-day time-travel horizon derived from the data's "
    "max timestamp, a CLOSED version whose validity ended before the "
    "horizon can be vacuumed — no as-of query inside the horizon can "
    "touch it — while current versions and recently-closed ones must "
    "stay. Reports per status: version rows, affected users, validity "
    "envelope, and the integer share — the reclaimable-storage estimate "
    "a retention job is sized by before any file is rewritten (the "
    "planning half, like gdpr_delete_manifest for erasure). Composes "
    "the SHARED scd2_versions definition, so the version semantics "
    "cannot drift from the dimension build or the streaming upsert. "
    "One user_id shuffle (the SCD2 windows) + one status regroup; the "
    "horizon is one broadcast scalar.",
    tags=("temporal", "warehouse", "retention", "maintenance"),
)
def snapshot_retention_plan(spark, sf_dir):
    versions = scd2_versions(scd2_parse(spark, sf_dir))
    horizon = F.broadcast(
        T(spark, sf_dir, "events").agg(
            F.expr(
                f"max(ts) - INTERVAL {_RETAIN_DAYS} DAYS"
            ).alias("horizon")
        )
    )
    tagged = versions.crossJoin(horizon).withColumn(  # scale-ok: 1-row horizon scalar
        "status",
        F.when(
            F.col("is_current") | (F.col("valid_to") > F.col("horizon")),
            F.lit("keep"),
        ).otherwise(F.lit("expire")),
    )
    total = F.broadcast(tagged.agg(F.count("*").alias("n")))
    return (
        tagged.groupBy("status")
        .agg(
            F.count("*").alias("n_versions"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("valid_from").alias("min_valid_from"),
            F.max("valid_to").alias("max_valid_to"),
        )
        .crossJoin(total)  # scale-ok: 1-row total scalar
        .select(
            "status",
            "n_versions",
            "n_users",
            "min_valid_from",
            "max_valid_to",
            F.expr("CAST((1000 * n_versions) div n AS BIGINT)").alias(
                "share_permille"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier hazard table WITH right-censoring — the statistically
# honest companion to user_lifespan_survival (which treats every user's
# observed span as final; users still active at the corpus edge are not
# churned, they are CENSORED).
# ---------------------------------------------------------------------------

_KM_CENSOR_DAYS = 3  # last event within this of the corpus edge => censored


@register(
    "km_hazard_table",
    oracle=f"""
    WITH horizon AS (
      SELECT CAST(max(ts) AS DATE) - {_KM_CENSOR_DAYS} AS h FROM events
    ),
    life AS (
      -- PURCHASE lifespans: the all-events basis is vacuous on this
      -- corpus (every user has some event within days of the edge, so
      -- everything censors); purchases are sparse enough to churn.
      SELECT user_id,
             datediff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
               AS span_days,
             CAST(max(ts) AS DATE) > (SELECT h FROM horizon) AS censored
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    hist AS (
      SELECT span_days, censored, count(*) AS c
      FROM life GROUP BY 1, 2
    ),
    grid AS (SELECT unnest(range(0, {_SURV_DAYS})) AS day_offset)
    SELECT g.day_offset,
           CAST(coalesce(sum(CASE WHEN h.span_days >= g.day_offset
                                  THEN h.c ELSE 0 END), 0) AS BIGINT)
             AS n_at_risk,
           CAST(coalesce(sum(CASE WHEN h.span_days = g.day_offset
                                   AND NOT h.censored
                                  THEN h.c ELSE 0 END), 0) AS BIGINT)
             AS n_events,
           CAST(coalesce(sum(CASE WHEN h.span_days = g.day_offset
                                   AND h.censored
                                  THEN h.c ELSE 0 END), 0) AS BIGINT)
             AS n_censored,
           CAST((1000 * coalesce(sum(CASE WHEN h.span_days = g.day_offset
                                           AND NOT h.censored
                                          THEN h.c ELSE 0 END), 0))
                // greatest(coalesce(sum(CASE WHEN h.span_days >=
                                                  g.day_offset
                                             THEN h.c ELSE 0 END), 0), 1)
                AS BIGINT) AS hazard_permille
    FROM grid g CROSS JOIN hist h
    GROUP BY g.day_offset
    """,
    description="Kaplan-Meier hazard table with RIGHT-CENSORING over "
    "PURCHASE lifespans (first to last purchase per user; the all-"
    "events basis censors everything on this corpus — measured before "
    f"shipping): users whose last purchase falls within {_KM_CENSOR_DAYS} "
    "days of the observation edge (max ts over ALL events) are censored "
    "(still active — their true lifespan is only "
    "bounded below), not counted as churn events; per day offset, the "
    "risk set, churn events, censored exits, and the exact integer "
    "per-mille hazard d/n — the quantity the KM survival product is "
    "built from (the product itself is a float fold left to display "
    "time; the hazard table is the exact, mergeable part). "
    "user_lifespan_survival is the uncensored companion; this one does "
    "not overstate churn at the observation edge. Same scale shape: "
    "suffix/point sums on the bounded (days x censored) histogram via "
    "the day-grid cross join — days-squared cells, never users x days.",
    tags=("temporal", "survival", "censoring", "analytics"),
)
def km_hazard_table(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    horizon = F.broadcast(
        e.agg(
            F.date_sub(F.max("ts").cast("date"), _KM_CENSOR_DAYS).alias("h")
        )
    )
    life = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.max("ts").cast("date"), F.min("ts").cast("date")
            ).alias("span_days"),
            F.max("ts").cast("date").alias("last_day"),
        )
        .crossJoin(horizon)  # scale-ok: 1-row horizon scalar
        .select(
            "span_days", (F.col("last_day") > F.col("h")).alias("censored")
        )
    )
    hist = life.groupBy("span_days", "censored").agg(F.count("*").alias("c"))
    grid = spark.range(0, _SURV_DAYS).select(
        F.col("id").cast("long").alias("day_offset")
    )
    at_risk = F.when(
        F.col("span_days") >= F.col("day_offset"), F.col("c")
    ).otherwise(F.lit(0))
    ev = F.when(
        (F.col("span_days") == F.col("day_offset")) & ~F.col("censored"),
        F.col("c"),
    ).otherwise(F.lit(0))
    cen = F.when(
        (F.col("span_days") == F.col("day_offset")) & F.col("censored"),
        F.col("c"),
    ).otherwise(F.lit(0))
    return (
        grid.crossJoin(hist)  # scale-ok: day-grid x bounded histogram
        .groupBy("day_offset")
        .agg(
            F.coalesce(F.sum(at_risk), F.lit(0)).cast("long").alias("n_at_risk"),
            F.coalesce(F.sum(ev), F.lit(0)).cast("long").alias("n_events"),
            F.coalesce(F.sum(cen), F.lit(0)).cast("long").alias("n_censored"),
        )
        .select(
            "day_offset",
            "n_at_risk",
            "n_events",
            "n_censored",
            F.expr(
                "CAST((1000 * n_events) div greatest(n_at_risk, 1) "
                "AS BIGINT)"
            ).alias("hazard_permille"),
        )
    )


# ---------------------------------------------------------------------------
# CDC MERGE apply: the lakehouse `MERGE INTO` over a keyed change log with
# DELETE tombstones — the Debezium-to-Delta pattern the SCD2/upsert tiers
# don't cover (they version or keep-first; this one APPLIES deletes).
#
# The event log is read as a CDC stream on the user dimension: signup = I,
# error = D (tombstone), click/view/purchase = U; payload = (props.k,
# value); op order is the (ts, event_id) total order. Target = the
# last-writer-wins state (tombstones absent) over everything OLDER than
# 7 days before the corpus max ts; source batch = the last 7 days. Output
# is the merged snapshot WITH the merge's lineage: one row per key seen on
# either side, labeled insert / update / delete / carryover / noop
# (delete of an absent key), final payload NULLed for tombstoned keys.
#
# Scale: ONE shuffle — both sides reduce in a single window pass
# partitioned by (user_id, phase); the merge itself is a key-sized full
# outer join (output is dimension-sized, not event-sized). The cutoff is
# a 1-row broadcast scalar. At 100 TB the target side is the stored
# snapshot and only the source window re-reduces — same plan, smaller
# left leg.
# ---------------------------------------------------------------------------

_CDC_MERGE_ORACLE = """
    WITH ops AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'signup' THEN 'I'
                             WHEN 'error' THEN 'D' ELSE 'U' END AS op,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k,
             value,
             ts < (SELECT max(ts) - INTERVAL 7 DAY FROM events) AS pre
      FROM events
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id, pre
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id, pre) AS cnt
      FROM ops
    ),
    tgt AS (SELECT * FROM ranked WHERE pre AND rn = 1 AND op <> 'D'),
    src AS (SELECT * FROM ranked WHERE NOT pre AND rn = 1)
    SELECT coalesce(t.user_id, s.user_id) AS user_id,
           CASE WHEN s.user_id IS NULL THEN 'carryover'
                WHEN t.user_id IS NULL AND s.op = 'D' THEN 'noop'
                WHEN t.user_id IS NULL THEN 'insert'
                WHEN s.op = 'D' THEN 'delete'
                ELSE 'update' END AS action,
           CASE WHEN s.user_id IS NULL THEN t.k
                WHEN s.op <> 'D' THEN s.k END AS final_k,
           CASE WHEN s.user_id IS NULL THEN t.value
                WHEN s.op <> 'D' THEN s.value END AS final_value,
           coalesce(s.ts, t.ts) AS last_ts,
           CAST(coalesce(s.cnt, 0) AS BIGINT) AS n_src_ops
    FROM tgt t FULL OUTER JOIN src s ON t.user_id = s.user_id
    """


@register(
    "cdc_merge_apply",
    oracle=_CDC_MERGE_ORACLE,
    description="Lakehouse CDC MERGE: the event log read as a keyed change "
    "stream (signup=insert, error=delete tombstone, activity=upsert; "
    "payload = props.k + value) is applied to the last-writer-wins "
    "snapshot as of 7 days before the corpus max ts — the MERGE INTO "
    "WHEN MATCHED [AND src.op='D'] THEN DELETE pattern. Output is the "
    "merged dimension plus merge lineage per key (insert / update / "
    "delete / carryover / noop-delete-of-absent). One window pass "
    "partitioned by (user_id, phase) reduces both sides in a single "
    "shuffle; the merge is a dimension-sized full outer join.",
    tags=("temporal", "warehouse", "cdc", "merge", "upsert"),
    bench=True,  # promoted r7 s5: the lakehouse-merge flagship
)
def cdc_merge_apply(spark, sf_dir):
    from pyspark.sql import types as T_

    ev = T(spark, sf_dir, "events")
    cutoff = F.broadcast(
        ev.agg(F.expr("max(ts) - INTERVAL 7 DAY").alias("cut"))
    )
    schema = T_.StructType([T_.StructField("k", T_.LongType())])
    ops = (
        ev.crossJoin(cutoff)  # scale-ok: 1-row broadcast cutoff scalar
        .withColumn("p", F.from_json("props", schema))
        .select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type") == "signup", "I")
            .when(F.col("event_type") == "error", "D")
            .otherwise("U")
            .alias("op"),
            F.col("p.k").alias("k"),
            "value",
            (F.col("ts") < F.col("cut")).alias("pre"),
        )
    )
    w = Window.partitionBy("user_id", "pre").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ops.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("user_id", "pre")).alias("cnt"),
    )
    # Materialize the last-writer rows (<= 2 per user — dimension-sized):
    # tgt and src both read this frame, and without the persist Spark
    # duplicates the whole event-scan + window subtree per merge side
    # (audited: 2 BNLJs + 2 window exchanges over the log).
    last = ranked.filter(F.col("rn") == 1).persist()
    tgt = last.filter(F.col("pre") & (F.col("op") != "D")).alias("t")
    src = last.filter(~F.col("pre")).alias("s")
    t_, s_ = F.col("t.user_id"), F.col("s.user_id")
    src_live = s_.isNotNull() & (F.col("s.op") != "D")
    return tgt.join(src, t_ == s_, "full_outer").select(
        F.coalesce(t_, s_).alias("user_id"),
        F.when(s_.isNull(), "carryover")
        .when(t_.isNull() & (F.col("s.op") == "D"), "noop")
        .when(t_.isNull(), "insert")
        .when(F.col("s.op") == "D", "delete")
        .otherwise("update")
        .alias("action"),
        F.when(s_.isNull(), F.col("t.k"))
        .when(src_live, F.col("s.k"))
        .alias("final_k"),
        F.when(s_.isNull(), F.col("t.value"))
        .when(src_live, F.col("s.value"))
        .alias("final_value"),
        F.coalesce(F.col("s.ts"), F.col("t.ts")).alias("last_ts"),
        F.coalesce(F.col("s.cnt"), F.lit(0)).cast("long").alias("n_src_ops"),
    )
